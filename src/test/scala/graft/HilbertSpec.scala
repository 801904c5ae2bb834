package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hilbertIndex
import graft.recovery.Recovery
import graft.sink.{Hilbert, PartitionedParquetSink, ZOrder}
import graft.sink.PartitionedParquetSink.SinkConfig

/** Hilbert-curve clustering: the curve's defining properties, codegen
  * equivalence of the native expression, and the zone-map pruning it
  * buys over plain ts clustering (the Morton comparison as in the
  * z-order spec). */
class HilbertSpec extends SparkSpec {

  test("hilbert index is a bijection with unit-step adjacency") {
    // exhaustive on an 8-bit sub-grid embedded in the 21-bit domain:
    // distinct d for distinct (x,y), and consecutive d are grid
    // neighbors (|Δx|+|Δy| = 1) — the locality Morton lacks
    val side = 64
    val seen = new java.util.HashSet[java.lang.Long]()
    for (x <- 0 until side; y <- 0 until side) {
      val d = Hilbert.index(x.toLong, y.toLong)
      assert(seen.add(d), s"collision at ($x,$y)")
      val (px, py) = Hilbert.point(d)
      assert(px == x && py == y, s"point(index($x,$y)) = ($px,$py)")
    }
    // adjacency along the full sub-curve that exactly tiles the 64×64
    // corner requires walking d over that sub-square's own curve; on
    // the full 21-bit curve, instead check adjacency directly: any two
    // consecutive d values decode to neighboring cells
    var d = 0L
    var (x0, y0) = Hilbert.point(0L)
    while (d < 4096L) {
      val (x1, y1) = Hilbert.point(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"jump at d=$d: ($x0,$y0)->($x1,$y1)")
      x0 = x1; y0 = y1; d += 1
    }
  }

  test("hilbert_index expression matches the scala loop and stays codegen'd") {
    import spark.implicits._
    val df = spark.range(0, 2000)
      .select((col("id") * 37 % 1499).as("x"), (col("id") * 101 % 2039).as("y"))
    val got = df.select(col("x"), col("y"),
        hilbertIndex(col("x"), col("y")).as("h"))
      .collect()
    got.foreach(r =>
      assert(r.getLong(2) === Hilbert.index(r.getLong(0), r.getLong(1))))
    // native expression keeps the projection inside whole-stage codegen
    // (the executedPlan's "*(n)" prefix marks codegen'd spans)
    val plan = df.select(hilbertIndex(col("x"), col("y")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("hilbert clustering prunes both columns at least as well as morton") {
    import spark.implicits._
    val base = tempDir("hilbert")
    val eventsDf = Tables.events(spark, sf)
    val key = "spark.sql.files.maxRecordsPerFile"
    def write(table: String, curve: String): Unit = {
      val cfg = SinkConfig(base, table, tsColumn = "ts",
        granularity = "monthly", writeTasks = Some(1),
        zOrderBy = Seq("user_id", "event_id"), curve = curve)
      spark.conf.set(key, "64")
      try PartitionedParquetSink.writeBatch(eventsDf, cfg)
      finally spark.conf.unset(key)
    }
    write("hil", "hilbert")
    write("mor", "morton")

    def overlapFrac(table: String, column: String, lo: Long, hi: Long): Double = {
      val stats = Recovery.fileStats(spark, s"$base/$table", column).collect()
      val hit = stats.count(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      hit.toDouble / stats.length
    }
    val nUsers = eventsDf.agg(max($"user_id")).collect()(0).getLong(0)
    val nEvents = eventsDf.count()
    // mid-range slices on each clustered dimension
    val hU = overlapFrac("hil", "user_id", nUsers / 2, nUsers / 2 + nUsers / 10)
    val mU = overlapFrac("mor", "user_id", nUsers / 2, nUsers / 2 + nUsers / 10)
    val hE = overlapFrac("hil", "event_id", nEvents / 2, nEvents / 2 + nEvents / 10)
    val mE = overlapFrac("mor", "event_id", nEvents / 2, nEvents / 2 + nEvents / 10)
    // both dimensions prune, and hilbert's jump-free locality is never
    // worse than morton on the PAIR of slices (it tightens bounding
    // boxes on average, not adversarially per-slice)
    assert(hU < 0.7 && hE < 0.7, s"hilbert failed to prune: u=$hU e=$hE")
    assert(hU + hE <= mU + mE + 0.1,
      s"hilbert worse than morton: hilbert=($hU,$hE) morton=($mU,$mE)")
    // clustering is only a sort: content unchanged
    assert(spark.read.parquet(s"$base/hil").count() === eventsDf.count())
  }
}
