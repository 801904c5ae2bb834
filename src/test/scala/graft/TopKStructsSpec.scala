package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.topKStructs

class TopKStructsSpec extends SparkSpec {

  test("top_k_structs equals window row_number top-k across many partitions") {
    import spark.implicits._
    // deterministic synthetic data, spread over 8 partitions so the
    // merge (partial-aggregation) path is exercised
    val df = spark.range(0, 2000, 1, 8)
      .select(($"id" % 37).as("grp"),
              (($"id" * 2654435761L) % 1000).as("score"),
              $"id")
    val viaAgg = df.groupBy($"grp")
      .agg(topKStructs(struct($"score", (-$"id").as("neg_id"), $"id"), 3).as("top"))
      .select($"grp", posexplode($"top"))
      .select($"grp", $"col.score".as("score"), $"col.id".as("id"),
              ($"pos" + 1).as("rn"))
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id".asc)
    val viaWindow = df
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"grp", $"score", $"id", $"rn".cast("long"))
    assert(viaAgg.count() === viaWindow.count())
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("top_k_structs with fewer rows than k returns all, sorted descending") {
    import spark.implicits._
    val df = Seq((1L, 5.0, 10L), (1L, 9.0, 11L), (2L, 3.0, 12L)).toDF("g", "v", "id")
    val out = df.groupBy($"g")
      .agg(topKStructs(struct($"v", $"id"), 5).as("top"))
      .select($"g", $"top")
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out(1L).map(_.getDouble(0)) === Seq(9.0, 5.0))
    assert(out(2L).map(_.getDouble(0)) === Seq(3.0))
  }

  test("unorderable payload fields (maps) are fine; unorderable sort fields fail fast") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // map payload after the compared prefix: orderings are only built
    // for the compared fields, so this must work (round-2 ADVICE)
    val df = spark.range(0, 100, 1, 4)
      .select(($"id" % 5).as("grp"), ($"id" % 17).as("score"),
              map(lit("k"), $"id".cast("string")).as("attrs"))
    val top = df.groupBy($"grp")
      .agg(expr("top_k_structs(struct(score, attrs), 2, array(false), array(false))").as("t"))
      .select($"grp", explode($"t").as("s"))
      .select($"grp", $"s.score", $"s.attrs")
      .collect()
    assert(top.length === 10)
    assert(top.forall(_.getMap[String, String](2).nonEmpty))
    // a map IN the compared prefix must fail analysis, not mid-task
    val err = intercept[Exception] {
      df.groupBy($"grp")
        .agg(expr("top_k_structs(struct(attrs, score), 2, array(false), array(false))"))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("orderable") ||
           err.getMessage.contains("top_k_structs"))
  }

  test("mismatched ascending/nullsFirst lengths are rejected at construction") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] {
      graft.functions.TopKStructs(Literal(1), 3,
        ascending = Seq(true, false), nullsFirst = Seq(true))
    }
  }
}
