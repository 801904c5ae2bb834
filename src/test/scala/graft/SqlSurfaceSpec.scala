package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** The engine's custom functions have two front doors: the typed
  * DataFrame builders on GraftFunctions, which need nothing registered,
  * and plain `spark.sql` text — the surface a BI tool or a notebook
  * user sees — once GraftFunctions.register (or GraftExtensions at
  * session build) has named them. Both must give the same answer. */
class SqlSurfaceSpec extends SparkSpec {

  /** One row per native function: its SQL-text call over the columns
    * of `surface_in`, the typed builder over the same columns, and
    * whether it aggregates (per `g`) or maps row by row (per `id`). */
  private lazy val cases: Seq[(String, String, Column, Boolean)] = Seq(
    ("cosine_sim", "cosine_sim(a, b)", cosineSim(col("a"), col("b")), false),
    ("hilbert_index", "hilbert_index(x, y)", hilbertIndex(col("x"), col("y")), false),
    ("bag_bound", "bag_bound(fa, fb)", bagBound(col("fa"), col("fb")), false),
    ("sorted_intersect_count", "sorted_intersect_count(sa, sb)",
      sortedIntersectCount(col("sa"), col("sb")), false),
    ("iceberg_bucket", "iceberg_bucket(8, x)", icebergBucket(8, col("x")), false),
    ("bottomk_by_hash", "bottomk_by_hash(x, 3)", bottomKByHash(col("x"), 3), true),
    ("bottomk_distinct", "bottomk_distinct(x, 3)", bottomKDistinct(col("x"), 3), true),
    // k above the 11 distinct x: the summary is exact, whatever the merge order
    ("frequent_items", "frequent_items(x, 16)", frequentItems(col("x"), 16), true),
    ("ddsketch_agg", "ddsketch_agg(value, 12)", ddsketchAgg(col("value"), 12), true),
    ("top_k_structs",
      "top_k_structs(struct(value, x), 2, array(false, true), array(false, false))",
      topKStructs(struct(col("value"), col("x")), 2, Seq(false, true)), true))

  test("native expressions and sketch aggregates run from SQL text") {
    GraftFunctions.register(spark)
    val in = spark.range(0, 60, 1, 3).select(
      col("id"), (col("id") % 3).as("g"),
      (col("id") * 7 % 11).as("x"), (col("id") % 5).as("y"),
      array((col("id") % 3).cast("double"), (col("id") % 5).cast("double"), lit(1.0)).as("a"),
      array(lit(1.0), (col("id") % 2).cast("double"), (col("id") % 7).cast("double")).as("b"),
      array((col("id") % 3).cast("int"), (col("id") % 4).cast("int"), lit(1)).as("fa"),
      array(lit(1), (col("id") % 2).cast("int"), (col("id") % 5).cast("int")).as("fb"),
      array_sort(array(col("id") % 4, col("id") % 4 + 1, lit(6L))).as("sa"),
      array_sort(array(lit(1L), lit(2L), col("id") % 6 + 2)).as("sb"),
      ((col("id") * 13 % 17) + 0.5).as("value"))
    in.createOrReplaceTempView("surface_in")
    try {
      assert(cases.map(_._1).toSet ===
        GraftFunctions.descriptors.map(_._1.funcName).toSet)
      cases.foreach { case (name, sqlCall, builder, grouped) =>
        val key = if (grouped) "g" else "id"
        val viaSql = spark.sql(
          s"SELECT $key, $sqlCall AS r FROM surface_in" +
            (if (grouped) " GROUP BY g" else "") + s" ORDER BY $key").collect().toSeq
        val viaBuilder =
          (if (grouped) in.groupBy(col("g")).agg(builder.as("r"))
           else in.select(col("id"), builder.as("r")))
            .orderBy(col(key)).collect().toSeq
        assert(viaSql.nonEmpty, name)
        assert(viaBuilder === viaSql, name)
        // an unaliased builder column is named as the SQL call is
        val unnamed = if (grouped) in.agg(builder) else in.select(builder)
        val unnamedSql = if (grouped) in.agg(expr(sqlCall)) else in.select(expr(sqlCall))
        assert(unnamed.columns.toSeq === unnamedSql.columns.toSeq, name)
      }
    } finally spark.catalog.dropTempView("surface_in")
  }

  test("spark.sql.extensions injects every function register adds") {
    import org.apache.spark.sql.{SparkSessionExtensions, TestExtensions}
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    GraftFunctions.register(spark)
    val fns = spark.sessionState.functionRegistry
    val tvfs = spark.sessionState.tableFunctionRegistry
    def graftOnly(names: Seq[org.apache.spark.sql.catalyst.FunctionIdentifier],
                  info: org.apache.spark.sql.catalyst.FunctionIdentifier =>
                    Option[org.apache.spark.sql.catalyst.expressions.ExpressionInfo]) =
      names.filter(id => info(id).exists(_.getClassName.startsWith("graft."))).map(_.funcName).toSet
    val registered = graftOnly(fns.listFunction(), fns.lookupFunction)
    val registeredTvfs = graftOnly(tvfs.listFunction(), tvfs.lookupFunction)
    assert(registered.contains("bottomk_distinct"), registered)
    assert(registeredTvfs.nonEmpty)
    assert(registered.subsetOf(TestExtensions.functions(ext).toSet),
      registered -- TestExtensions.functions(ext))
    assert(registeredTvfs.subsetOf(TestExtensions.tableFunctions(ext).toSet),
      registeredTvfs -- TestExtensions.tableFunctions(ext))
  }
}
