package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** SQL TABLE FUNCTIONS over the catalog-free Iceberg chain — the
  * surface that makes a chain directory queryable from plain SQL with
  * no catalog and no DataFrame code:
  *
  * {{{
  *   SELECT * FROM graft_iceberg('/warehouse/events')            -- current
  *   SELECT * FROM graft_iceberg('/warehouse/events', 123456789) -- time travel
  *   SELECT * FROM graft_iceberg_files('/warehouse/events')      -- table$files
  *   SELECT * FROM graft_iceberg_snapshots('/warehouse/events')  -- history
  * }}}
  *
  * Each invocation resolves at ANALYSIS time to the cold-read plan
  * ([[IcebergTableReader.read]] — merge-on-read deletes applied, the
  * committed schema, fresh expression ids per call so self-joins work),
  * so everything downstream is ordinary Catalyst: pruning, pushdown,
  * join planning all see a normal parquet scan. Arguments must be
  * literals — the path decides the plan, so it cannot be row-dependent
  * (same contract as Spark's own `range(...)` TVF arguments). */
object IcebergTvf {

  private def strArg(fn: String, args: Seq[Expression], i: Int): String =
    args.lift(i) match {
      case Some(Literal(v, StringType)) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal table path" +
          other.map(e => s", got $e").getOrElse(" (missing)"))
    }

  private def longArg(fn: String, args: Seq[Expression], i: Int): Option[Long] =
    args.lift(i).map {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal snapshot id, got $other")
    }

  private def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  val readDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_iceberg"),
    new ExpressionInfo(getClass.getName, "graft_iceberg"),
    (args: Seq[Expression]) => {
      require(args.size == 1 || args.size == 2,
        s"graft_iceberg(path[, snapshotId]) takes 1 or 2 arguments, got ${args.size}")
      val path = strArg("graft_iceberg", args, 0)
      val snap = longArg("graft_iceberg", args, 1)
      analyzed(IcebergTableReader.read(SparkSession.active, path, snap))
    })

  val filesDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_iceberg_files"),
    new ExpressionInfo(getClass.getName, "graft_iceberg_files"),
    (args: Seq[Expression]) => {
      val path = strArg("graft_iceberg_files", args, 0)
      val snap = longArg("graft_iceberg_files", args, 1)
      analyzed(IcebergTableReader.filesDf(SparkSession.active, path, snap))
    })

  val snapshotsDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_iceberg_snapshots"),
    new ExpressionInfo(getClass.getName, "graft_iceberg_snapshots"),
    (args: Seq[Expression]) => {
      val path = strArg("graft_iceberg_snapshots", args, 0)
      analyzed(IcebergTableReader.snapshots(SparkSession.active, path))
    })

  /** `graft_iceberg_point('/path', 'col', value)` — the needle lookup
    * from plain SQL (r16): resolves at analysis time to the
    * bounds+bloom-pruned [[IcebergTableReader.readPoint]] plan, so the
    * scan underneath opens 1+ε files on an indexed chain while the SQL
    * author just writes a table function. Value must be an integer
    * literal — like the path, it decides the PLAN (which files to
    * open), so it cannot be row-dependent. */
  val pointDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_iceberg_point"),
    new ExpressionInfo(getClass.getName, "graft_iceberg_point"),
    (args: Seq[Expression]) => {
      require(args.size == 3,
        s"graft_iceberg_point(path, column, value) takes 3 arguments, " +
          s"got ${args.size}")
      val path = strArg("graft_iceberg_point", args, 0)
      val column = strArg("graft_iceberg_point", args, 1)
      val value = longArg("graft_iceberg_point", args, 2).get
      analyzed(IcebergTableReader.readPoint(
        SparkSession.active, path, column, value))
    })

  /** `graft_iceberg_ndv('/path'[, snapshotId])` — column cardinalities
    * from the snapshot's statistics sidecar, metadata-only
    * ([[IcebergTableReader.ndvFromStats]]): the CBO's join-cardinality
    * lookup as a plain-SQL table. */
  val ndvDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_iceberg_ndv"),
    new ExpressionInfo(getClass.getName, "graft_iceberg_ndv"),
    (args: Seq[Expression]) => {
      require(args.size == 1 || args.size == 2,
        s"graft_iceberg_ndv(path[, snapshotId]) takes 1 or 2 arguments, " +
          s"got ${args.size}")
      val path = strArg("graft_iceberg_ndv", args, 0)
      val snap = longArg("graft_iceberg_ndv", args, 1)
      analyzed(IcebergTableReader.ndvFromStats(SparkSession.active, path, snap))
    })

  val all = Seq(readDescriptor, filesDescriptor, snapshotsDescriptor,
    pointDescriptor, ndvDescriptor)

  /** Post-construction registration for driver-owned sessions; called
    * by [[graft.functions.GraftFunctions.register]]. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, info, builder)
    }
}
