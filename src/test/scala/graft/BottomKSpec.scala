package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{bottomKByHash, frequentItems}

class BottomKSpec extends SparkSpec {

  test("frequent_items superset guarantee + exact two-pass heavy hitters on Zipf data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Zipf-ish: item j appears ~3000/j times, 200 distinct items
    val rows = (1 to 200).flatMap(j => Seq.fill(3000 / j)(j.toLong))
    val df = scala.util.Random.shuffle(rows).toDF("item").repartition(8)
    val n = rows.size.toLong
    val k = 50

    val cand = df.agg(frequentItems($"item", k).as("c"))
      .select(explode($"c.item").as("item")).collect().map(_.getLong(0)).toSet
    assert(cand.size <= k)
    // every item with true freq > n/(k+1) must be a candidate
    val trueCounts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mustHave = trueCounts.filter(_._2 > n / (k + 1)).keySet
    assert(mustHave.nonEmpty && mustHave.subsetOf(cand),
      s"missing hitters: ${mustHave.diff(cand)}")

    // the exact second pass over candidates reproduces plain GROUP BY/HAVING
    val thr = n * 0.02
    val twoPass = df.join(broadcast(cand.toSeq.toDF("item")), "item")
      .groupBy($"item").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > thr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = trueCounts.filter(_._2 > thr)
    assert(twoPass === exact)
  }

  test("bottom-k sample is invariant to partitioning and input order") {
    import spark.implicits._
    def sample(numParts: Int, shuffled: Boolean) = {
      val base = Tables.events(spark, sf).select($"event_type", $"user_id").distinct()
      val arranged =
        if (shuffled) base.orderBy(rand(7)).repartition(numParts)
        else base.repartition(numParts)
      arranged.groupBy($"event_type")
        .agg(bottomKByHash($"user_id", 3).as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    }
    val a = sample(1, shuffled = false)
    val b = sample(13, shuffled = true)
    assert(a === b)
    assert(a.values.forall(_.length === 3))
  }
}
