package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed as-of join — "for each left row, the latest right row at
  * or before its timestamp, per key".
  *
  * Spark has no native as-of join; the scalable composition (SURVEY.md
  * §3 ladder step (a)) is the union-and-window pattern: tag both sides,
  * union, then one window pass per key ordered by (time, side) carrying
  * the last right-side payload forward. Exactly one shuffle on the key —
  * no range cross product, no per-key collect — which is the shape that
  * survives 100 TB fact/fact as-of joins.
  */
object AsofJoin {

  /** Left as-of join: every left row keeps the payload of the latest
    * right row with rightTime <= leftTime (right rows at the exact same
    * timestamp count as matched). Right side must be unique per
    * (key, time) — pre-aggregate it otherwise. */
  def leftAsof(left: DataFrame, right: DataFrame,
               leftKey: Column, rightKey: Column,
               leftTime: Column, rightTime: Column,
               payload: Seq[(String, Column)]): DataFrame = {
    val leftCols = left.columns
    val payloadStruct = struct(payload.map { case (n, c) => c.as(n) }: _*)
    val r = right
      .select(rightKey.as("_k"), rightTime.as("_t"), payloadStruct.as("_payload"))
      .withColumn("_side", lit(1))
    val l = left
      .withColumn("_k", leftKey).withColumn("_t", leftTime)
      .withColumn("_side", lit(0))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(l.columns.map(col): _*)

    // right rows sort before left rows at the same instant (_side desc)
    // so "at or before" includes exact-timestamp matches.
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(rAligned)
      .withColumn("_asof", last(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .select(leftCols.map(col) :+ col("_asof"): _*)
  }

  /** FORWARD as-of join (r8): every left row keeps the payload of the
    * EARLIEST right row with rightTime >= leftTime — pandas
    * `merge_asof(direction="forward")` / QuestDB's forward variant, the
    * "what happened next" join (event → next order, alert → next
    * deploy). Mirror image of [[leftAsof]]: same tag-union-window
    * single shuffle, but the frame scans FORWARD (first following
    * right payload). At equal timestamps the right row counts as
    * matched (left sorts before right via `_side asc`). */
  def leftAsofForward(left: DataFrame, right: DataFrame,
                      leftKey: Column, rightKey: Column,
                      leftTime: Column, rightTime: Column,
                      payload: Seq[(String, Column)]): DataFrame = {
    val leftCols = left.columns
    val payloadStruct = struct(payload.map { case (n, c) => c.as(n) }: _*)
    val r = right
      .select(rightKey.as("_k"), rightTime.as("_t"), payloadStruct.as("_payload"))
      .withColumn("_side", lit(1))
    val l = left
      .withColumn("_k", leftKey).withColumn("_t", leftTime)
      .withColumn("_side", lit(0))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(l.columns.map(col): _*)
    // left rows sort before right rows at the same instant (_side asc)
    // so "at or after" includes exact-timestamp matches
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(rAligned)
      .withColumn("_asof", first(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .select(leftCols.map(col) :+ col("_asof"): _*)
  }

  /** NEAREST as-of join (r11): every left row keeps the payload of the
    * right row minimizing |rightTime − leftTime| — pandas
    * `merge_asof(direction="nearest")`, the reconciliation join for
    * samples that can land on either side of the reference clock
    * (sensor readings vs control points, trades vs quotes with clock
    * skew). Ties (equidistant back/forward) resolve BACKWARD, matching
    * pandas.
    *
    * Physical shape: ONE union + ONE shuffle on the key, then two
    * window passes over the same hash partitioning (backward `last`,
    * forward `first` — the second window re-sorts but never
    * re-exchanges); a post-window comparison on the smuggled matched
    * times picks the nearer side. No range cross product, no per-key
    * collect — the same 100 TB shape as [[leftAsof]]. */
  def leftAsofNearest(left: DataFrame, right: DataFrame,
                      leftKey: Column, rightKey: Column,
                      leftTime: Column, rightTime: Column,
                      payload: Seq[(String, Column)]): DataFrame = {
    val leftCols = left.columns
    val payloadStruct = struct(
      (payload.map { case (n, c) => c.as(n) } :+
        unix_micros(rightTime).as("_mt")): _*)
    val r = right
      .select(rightKey.as("_k"), rightTime.as("_t"), payloadStruct.as("_payload"))
      .withColumn("_side", lit(1))
    val l = left
      .withColumn("_k", leftKey).withColumn("_t", leftTime)
      .withColumn("_side", lit(0))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(l.columns.map(col): _*)
    val wB = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val lt = unix_micros(col("_t"))
    val backCloser = (lt - col("_b._mt")) <= (col("_f._mt") - lt)
    l.unionByName(rAligned)
      .withColumn("_b", last(col("_payload"), ignoreNulls = true).over(wB))
      .withColumn("_f", first(col("_payload"), ignoreNulls = true).over(wF))
      .filter(col("_side") === 0)
      .withColumn("_asof",
        when(col("_b").isNull, col("_f"))
          .when(col("_f").isNull, col("_b"))
          .when(backCloser, col("_b"))
          .otherwise(col("_f")))
      .withColumn("_dir",
        when(col("_b").isNull && col("_f").isNull, lit("none"))
          .when(col("_f").isNull || (col("_b").isNotNull && backCloser),
                lit("back"))
          .otherwise(lit("fwd")))
      .select(leftCols.map(col) :+ col("_asof") :+ col("_dir"): _*)
  }

  /** Backward as-of with a TOLERANCE bound (r8): like [[leftAsof]], but
    * a match older than `toleranceUs` microseconds nulls out — pandas
    * `merge_asof(tolerance=...)`. The staleness guard every "join
    * latest state" pipeline needs: a reading from last month is worse
    * than no reading. Same single-shuffle window; the carried payload
    * smuggles the matched right time, and one post-window comparison
    * applies the bound — no extra shuffle. Time columns must be
    * timestamps (micros comparison). */
  def leftAsofTolerance(left: DataFrame, right: DataFrame,
                        leftKey: Column, rightKey: Column,
                        leftTime: Column, rightTime: Column,
                        payload: Seq[(String, Column)],
                        toleranceUs: Long): DataFrame = {
    val leftCols = left.columns
    val payloadStruct = struct(
      (payload.map { case (n, c) => c.as(n) } :+
        unix_micros(rightTime).as("_mt")): _*)
    val r = right
      .select(rightKey.as("_k"), rightTime.as("_t"), payloadStruct.as("_payload"))
      .withColumn("_side", lit(1))
    val l = left
      .withColumn("_k", leftKey).withColumn("_t", leftTime)
      .withColumn("_side", lit(0))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(l.columns.map(col): _*)
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(rAligned)
      .withColumn("_m", last(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
    val inTol = col("_m").isNotNull &&
      (unix_micros(col("_t")) - col("_m").getField("_mt") <= toleranceUs)
    val cleaned = struct(payload.map { case (n, _) =>
      col("_m").getField(n).as(n) }: _*)
    matched
      .withColumn("_asof", when(inTol, cleaned))
      .select(leftCols.map(col) :+ col("_asof"): _*)
  }

  /** NATIVE as-of join through the full custom-operator path
    * ([[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinStrategy]] →
    * [[graft.plans.AsOfJoinExec]]): each side shuffles on its own key
    * and sorts by (key, time) — both injected by EnsureRequirements —
    * then a per-partition two-pointer merge streams the answer with
    * O(1) state. Key and time columns are resolved by name from the
    * ANALYZED child plans; both time columns must evaluate to long
    * (timestamp-micros or bigint) and be non-null. */
  def leftAsofNative(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftTime: String, rightTime: String,
                     forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    graft.functions.GraftFunctions.register(spark) // arms AsOfJoinStrategy
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val (lt, rt) = (attr(lPlan, leftTime), attr(rPlan, rightTime))
    // the exec reads times as raw longs — catch type misuse at plan
    // time, not as an executor ClassCastException
    Seq(lt, rt).foreach { t =>
      require(t.dataType == org.apache.spark.sql.types.TimestampType ||
              t.dataType == org.apache.spark.sql.types.LongType,
        s"as-of time column ${t.name} must be timestamp or bigint, " +
          s"got ${t.dataType.simpleString}")
    }
    // both times must carry the SAME unit: timestamp-micros on one side
    // vs a raw bigint on the other passes the per-column check above but
    // compares micros against arbitrary longs
    require(lt.dataType == rt.dataType,
      s"as-of time columns must share a type: ${lt.name} is " +
        s"${lt.dataType.simpleString}, ${rt.name} is ${rt.dataType.simpleString}")
    // the exec orders right-key rows with an ordering built from the
    // LEFT key types — a dtype mismatch would read garbage bytes and
    // silently return wrong joins, so fail at plan time instead
    val (lkAttr, rkAttr) = (attr(lPlan, leftKey), attr(rPlan, rightKey))
    require(lkAttr.dataType == rkAttr.dataType,
      s"as-of key columns must share a type: ${lkAttr.name} is " +
        s"${lkAttr.dataType.simpleString}, ${rkAttr.name} is " +
        s"${rkAttr.dataType.simpleString}")
    org.apache.spark.sql.graft.GraftSql.ofRows(spark,
      graft.plans.AsOfJoinNode(lPlan, rPlan, Seq(lkAttr), Seq(rkAttr), lt, rt,
        forward))
  }

  /** [[qAsofJoin]] re-planned through the native exec — same oracle,
    * different physical strategy (the custom-operator proof). */
  def qAsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      .select($"o_custkey", $"o_orderdate".cast("timestamp").as("o_ts"),
              $"o_orderkey", $"o_totalprice")
    leftAsofNative(events, orders, "user_id", "o_custkey", "ts", "o_ts")
      .select($"event_id", $"user_id",
              $"o_orderkey".as("last_order_key"),
              round($"o_totalprice", 4).as("last_order_price"))
  }

  /** [[qAsofForward]] re-planned through the native exec's FORWARD
    * merge — same oracle, third physical strategy under test. */
  def qAsofForwardNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      .select($"o_custkey", $"o_orderdate".cast("timestamp").as("o_ts"),
              $"o_orderkey", $"o_totalprice")
    leftAsofNative(events, orders, "user_id", "o_custkey", "ts", "o_ts",
      forward = true)
      .select($"event_id", $"user_id",
              $"o_orderkey".as("next_order_key"),
              round($"o_totalprice", 4).as("next_order_price"))
  }

  /** events FORWARD-as-of orders per user: annotate each event with the
    * user's NEXT order at or after event time (null if none follows) —
    * the attribution-window question ("did this session convert?"). */
  def qAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
    leftAsofForward(events, orders,
      $"user_id", $"o_custkey", $"ts", $"o_orderdate",
      Seq("o_orderkey" -> $"o_orderkey", "price" -> $"o_totalprice"))
      .select($"event_id", $"user_id",
              $"_asof.o_orderkey".as("next_order_key"),
              round($"_asof.price", 4).as("next_order_price"))
  }

  /** [[qAsofJoin]] with a 30-day staleness bound: orders older than 30
    * days at event time null out instead of matching. */
  def qAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      .withColumn("o_ts", $"o_orderdate".cast("timestamp"))
    leftAsofTolerance(events, orders,
      $"user_id", $"o_custkey", $"ts", $"o_ts",
      Seq("o_orderkey" -> $"o_orderkey", "price" -> $"o_totalprice"),
      toleranceUs = 30L * 86400L * 1000000L)
      .select($"event_id", $"user_id",
              $"_asof.o_orderkey".as("recent_order_key"),
              round($"_asof.price", 4).as("recent_order_price"))
  }

  /** events NEAREST-as-of orders per user: annotate each event with the
    * user's temporally closest order in EITHER direction (ties go
    * backward), plus which direction won. */
  def qAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      .withColumn("o_ts", $"o_orderdate".cast("timestamp"))
    leftAsofNearest(events, orders,
      $"user_id", $"o_custkey", $"ts", $"o_ts",
      Seq("o_orderkey" -> $"o_orderkey", "price" -> $"o_totalprice"))
      .select($"event_id", $"user_id",
              $"_asof.o_orderkey".as("nearest_order_key"),
              round($"_asof.price", 4).as("nearest_order_price"),
              $"_dir".as("direction"))
  }

  /** events as-of orders per user: annotate each event with the user's
    * most recent order at event time (null if none yet). */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    // unique per (custkey, orderdate): keep the max orderkey and its
    // price. max + max_by over primitives stay in HashAggregate
    // (max(struct) would force sort-based aggregation); o_orderkey is
    // globally unique so max_by is deterministic.
    val orders = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
    leftAsof(events, orders,
      $"user_id", $"o_custkey", $"ts", $"o_orderdate",
      Seq("o_orderkey" -> $"o_orderkey", "price" -> $"o_totalprice"))
      .select($"event_id", $"user_id",
              $"_asof.o_orderkey".as("last_order_key"),
              round($"_asof.price", 4).as("last_order_price"))
  }
}
