package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The engine's custom functions are first-class SQL citizens: after
  * registration (GraftFunctions.register, or GraftExtensions at
  * session build) every native expression and sketch aggregate is
  * callable from plain `spark.sql` text — the surface a BI tool or a
  * notebook user sees. */
class SqlSurfaceSpec extends SparkSpec {

  test("native expressions and sketch aggregates run from SQL text") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // cosine_sim (codegen scalar)
    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .first().getDouble(0)
    assert(cos === 1.0)
    // bag_bound (codegen scalar)
    val bag = spark.sql(
      "SELECT bag_bound(array(3, 0, 1), array(1, 2, 1)) AS b")
      .first().getInt(0)
    assert(bag === 2)
    // hilbert_index (codegen scalar) is a bijection on a tiny grid
    val hDistinct = spark.sql(
      """SELECT count(DISTINCT hilbert_index(CAST(x AS BIGINT),
        |                                    CAST(y AS BIGINT))) AS n
        |FROM (SELECT explode(sequence(0, 7)) AS x) a
        |CROSS JOIN (SELECT explode(sequence(0, 7)) AS y) b""".stripMargin)
      .first().getLong(0)
    assert(hDistinct === 64L)
    // top_k_structs (TypedImperativeAggregate) straight from GROUP BY SQL
    Tables.events(spark, sf).createOrReplaceTempView("ev_sql")
    val top = spark.sql(
      """SELECT user_id,
        |  element_at(top_k_structs(struct(value, event_id), 1,
        |    array(false, true), array(false, false)), 1).event_id AS arg
        |FROM ev_sql GROUP BY user_id""".stripMargin).collect()
    val expect = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(max_by($"event_id", struct($"value", -$"event_id")).as("arg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    top.foreach(r => assert(r.getLong(1) === expect(r.getLong(0))))
    // bottomk_by_hash (consistent sample sketch) from SQL
    val bk = spark.sql(
      "SELECT bottomk_by_hash(user_id, 3) AS s FROM ev_sql")
      .first().getSeq[Long](0)
    assert(bk.size === 3)
    // ddsketch_agg (fully-mergeable quantile sketch) from GROUP BY SQL —
    // must equal the DataFrame-path native query exactly
    val ddSql = spark.sql(
      """SELECT event_type, ddsketch_agg(value, 12).p95_est AS p95
        |FROM ev_sql WHERE value > 0 GROUP BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ddDf = graft.telemetry.Telemetry.ddsketchNative(spark, sf)
      .select($"event_type", $"p95_est").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ddSql === ddDf)
    spark.catalog.dropTempView("ev_sql")
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
