package graft

/** Streaming A/B: integer sufficient statistics make the streamed
  * read-out IDENTICAL to the batch Welch query over every prefix,
  * whatever the arrival order. */
class StreamingAbTestSpec extends SparkSpec {

  test("streamed read-out equals the batch Welch t-test after replay") {
    import spark.implicits._
    // adversarial order: all of one arm first, then the other (the
    // batch query's own arm/v100 derivation decides the order)
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value",
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)" +
          " AS LONG) % 2 AS arm",
        "greatest(CAST(round(value * 100) AS LONG), 1L) AS v100")
      .orderBy("arm", "v100", "event_id")
      .drop("arm", "v100").as[StreamingParity.Ev].collect().toSeq
    val batches = events.grouped((events.size + 1) / 2).toSeq
    assert(StreamingParity.abTest(this, batches).nonEmpty)
  }
}
