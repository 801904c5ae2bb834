package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.hilbertIndex

/** Z-ORDER (Morton-curve) data layout (r18) — the multi-dimensional
  * clustering lever behind Delta `OPTIMIZE ZORDER BY` / Iceberg
  * `rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`:
  * interleave the bits of two key columns so rows close in BOTH
  * dimensions land in the same file, and a 2-D range predicate prunes
  * to a handful of partitions instead of scanning one full dimension.
  *
  * Why this matters at 100 TB: a layout sorted by `x` alone answers
  * `x BETWEEN …` with file skipping but degrades `y BETWEEN …` to a
  * full scan. The Morton curve bounds BOTH spans per bucket — the top
  * `2b` interleaved bits address an axis-aligned `2^(k-b) × 2^(k-b)`
  * tile, so every bucket's per-dimension span is bounded by the tile
  * edge (asserted by spec, measured by the `zorder_scan_*` bench
  * levers).
  *
  * The z-value is pure codegen'd integer arithmetic (shift/and/or
  * terms — no UDF), and the rectangle→buckets cover runs driver-side
  * over the 2^(2b) bucket grid: metadata-scale, exactly where Iceberg
  * evaluates partition specs; the data path only sees a pushed-down
  * `zbucket IN (…)` partition filter plus the exact residual. */
object ZOrder {

  /** Morton interleave of the low `bits` of `x` (even positions) and
    * `y` (odd positions). Delegates to the sink's magic-number
    * spreading kernel ([[graft.sink.ZOrder.zValue]], ~12 codegen ops
    * vs 4·bits unrolled terms). Inputs are masked to the low `bits`
    * here so the contract holds for ANY caller, not just those that
    * pre-bound to `[0, 2^bits)` — an unbounded input with bits=8 would
    * otherwise interleave its high bits and land in the wrong bucket. */
  def zvalue(x: Column, y: Column, bits: Int): Column = {
    require(bits <= 21, s"sink kernel interleaves 21 bits/dim, got $bits")
    val mask = lit((1L << bits) - 1)
    graft.sink.ZOrder.zValue(x.cast("long").bitwiseAND(mask),
                             y.cast("long").bitwiseAND(mask))
  }

  /** Buckets whose tile intersects the rectangle `[x0,x1]×[y0,y1]` —
    * the planner's cover set. Enumerating the 2^(2·bucketBits) grid is
    * deliberate: it is the partition-spec cardinality (metadata), not
    * the data, and stays a driver-side loop at any table size. */
  def coverBuckets(x0: Long, x1: Long, y0: Long, y1: Long,
                   bits: Int, bucketBits: Int): Seq[Long] = {
    val tileShift = bits - bucketBits
    val tile = 1L << tileShift
    (0L until (1L << (2 * bucketBits))).filter { zb =>
      // de-interleave the bucket id back to its tile origin
      var tx = 0L
      var ty = 0L
      var i = 0
      while (i < bucketBits) {
        tx |= ((zb >> (2 * i)) & 1L) << i
        ty |= ((zb >> (2 * i + 1)) & 1L) << i
        i += 1
      }
      val (bx0, bx1) = (tx * tile, tx * tile + tile - 1)
      val (by0, by1) = (ty * tile, ty * tile + tile - 1)
      bx1 >= x0 && bx0 <= x1 && by1 >= y0 && by0 <= y1
    }
  }

  private val Bits = 8        // keys quantized to 8 bits each
  private val BucketBits = 4  // top 4 interleaved bit-pairs → 256 buckets
  /** Bucket bits for the PHYSICAL layout (16 directories). Partition
    * granularity must track data volume — the operational rule is
    * tiles ≈ target file size (128 MB+), exactly like Delta/Iceberg
    * OPTIMIZE target-file-size: at sf0.1's 600k rows, 256 tiles would
    * be 2 kB files whose open/footer overhead EXCEEDS scanning the
    * table (measured — the classic small-file anti-pattern), while 16
    * tiles keep pruning real; at 100 TB the same data would warrant
    * thousands. The locality ANALYSIS ([[qZorderLocality]]) stays at
    * 256 buckets — it reads no layout, it proves the curve's tile
    * bound. */
  private val LayoutBucketBits = 2

  /** `q_zorder_locality`: per-bucket extents of both keys under the
    * Morton layout of lineitem's (partkey, orderkey) — the locality
    * certificate. Every bucket's span in EACH dimension is at most the
    * tile edge (15 here); a 1-D sort layout bounds one dimension and
    * leaves the other at full range. One narrow projection into a
    * 256-group hash agg — the z-value math is codegen'd per row,
    * nothing shuffles but the bucket summaries. */
  def qZorderLocality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(pmod($"l_partkey", lit(256L)).as("x"),
              pmod($"l_orderkey", lit(256L)).as("y"))
      .withColumn("z", zvalue($"x", $"y", Bits))
      .withColumn("zbucket", shiftright($"z", 2 * Bits - 2 * BucketBits))
    li.groupBy($"zbucket").agg(
      count(lit(1)).as("n_rows"),
      min($"x").as("min_x"), max($"x").as("max_x"),
      min($"y").as("min_y"), max($"y").as("max_y"))
  }

  private def layoutLoc(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
    val md = MessageDigest.getInstance("MD5").digest(base.getBytes("UTF-8"))
    s"/tmp/graft_zorder/${md.map(b => f"$b%02x").mkString}/lineitem"
  }

  /** Cached partition-discovered reader per layout (the catalog
    * discipline): `spark.read.parquet` re-lists every directory on
    * every call — a driver-side floor that swamps the pruned read's
    * win at bench scale and that no production table pays (listings
    * live in the catalog/metastore). Partition pruning still happens
    * per query at planning time against the cached file index. */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Keyed by (session, loc) + stopped-session eviction: a loc-only
    * key would hand out DataFrames bound to a dead SparkSession after
    * a stop/recreate in the same JVM. */
  private def layoutDf(spark: SparkSession, loc: String): DataFrame = {
    layoutCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    layoutCache.computeIfAbsent((spark, loc),
      k => k._1.read.parquet(k._2))
  }

  /** Lineitem written ONCE per sf dir under /tmp, hash-partitioned by
    * `zbucket` directory — the clustered layout the pruning query and
    * the bench levers read. Presence-checked like the Iceberg demo
    * chains (`_SUCCESS`), so queries stay read-mostly. */
  private[graft] def ensureLayout(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val loc = layoutLoc(sfDir)
    val done = new org.apache.hadoop.fs.Path(s"$loc/_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      Tables.lineitem(spark, sfDir)
        .select($"l_orderkey",
          pmod($"l_partkey", lit(256L)).as("x"),
          pmod($"l_orderkey", lit(256L)).as("y"),
          $"l_quantity", $"l_extendedprice", $"l_returnflag")
        .withColumn("zbucket",
          shiftright(zvalue($"x", $"y", Bits), 2 * Bits - 2 * LayoutBucketBits))
        // one file per populated bucket directory: the file IS the tile
        .repartition(col("zbucket"))
        .write.mode("overwrite").partitionBy("zbucket").parquet(loc)
    }
    loc
  }

  /** `q_zorder_pruning`: a 2-D rectangle aggregate answered through
    * the clustered layout — cover-set partition pruning (`zbucket IN`
    * against the directory layout: Spark's partition discovery skips
    * non-covered directories entirely, no footer reads) plus the exact
    * residual rectangle filter inside surviving tiles. The oracle runs
    * the same rectangle over raw lineitem, so a hash match proves the
    * cover set loses no rows. The rectangle spans 16×32 of the 256×256
    * key grid (~0.8% selectivity) and touches 1 of the 16 layout
    * tiles — the spec asserts the pruned read's files are the covered
    * directories only. */
  def qZorderPruning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val loc = ensureLayout(spark, sfDir)
    val (x0, x1, y0, y1) = (32L, 47L, 96L, 127L)
    val covers = coverBuckets(x0, x1, y0, y1, Bits, LayoutBucketBits)
    layoutDf(spark, loc)
      .filter($"zbucket".isin(covers: _*))
      .filter($"x".between(x0, x1) && $"y".between(y0, y1))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           sum($"l_quantity").cast("long").as("sum_qty"),
           round(sum($"l_extendedprice"), 4).as("sum_price"),
           min($"x").as("min_x"), max($"y").as("max_y"))
  }

  /** The same rectangle WITHOUT the cover set — the clustered-full arm
    * of the `zorder_scan_*` bench levers (not oracle-registered; the
    * result is identical by construction, the cost is not). Note this
    * arm still benefits from the clustering: z-sorted files carry
    * tight per-file/row-group x,y bounds, so the pushed BETWEENs skip
    * most row groups even without partition pruning — which is itself
    * part of the lever's story (see [[rectangleRawScan]] for the
    * no-layout baseline). */
  private[graft] def rectangleFullScan(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    import spark.implicits._
    val loc = ensureLayout(spark, sfDir)
    val (x0, x1, y0, y1) = (32L, 47L, 96L, 127L)
    layoutDf(spark, loc)
      .filter($"x".between(x0, x1) && $"y".between(y0, y1))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           sum($"l_quantity").cast("long").as("sum_qty"),
           round(sum($"l_extendedprice"), 4).as("sum_price"))
  }

  /** `q_hilbert_locality`: the same locality certificate over the
    * HILBERT curve — the no-jump alternative to Morton (consecutive
    * curve positions are always grid-adjacent, so range scans over the
    * sort key never teleport across the grid; Morton jumps at quadrant
    * boundaries). Runs the NATIVE codegen'd expression
    * ([[graft.sink.HilbertIndex]], the sink's cluster-sort key) via
    * its SQL registration, bucketed by the top 8 curve bits — each
    * bucket is one contiguous 256-cell curve segment = one 16×16
    * quadrant tile. The walk runs once per DISTINCT (x, y) cell (the
    * 2¹⁶-bounded grid, not the table), counts ride as weights. The
    * DuckDB oracle replays the full 21-level quadrant walk as
    * generated CTE iterations — hash-green proves the custom
    * Expression's doGenCode against an independent engine. */
  def qHilbertLocality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, sfDir)
      .select(pmod($"l_partkey", lit(256L)).as("x"),
              pmod($"l_orderkey", lit(256L)).as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).as("c"))
    cells
      .withColumn("d", hilbertIndex($"x", $"y"))
      .withColumn("hbucket", shiftright($"d", 2 * Bits - 2 * BucketBits))
      .groupBy($"hbucket").agg(
        sum($"c").as("n_rows"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
  }

  /** The rectangle over the RAW (unclustered) table — the no-layout
    * baseline arm: x/y are modulo expressions over the key columns, so
    * nothing pushes down and every row group is decoded. At 100 TB
    * this arm is the full-table scan the Morton layout exists to
    * avoid. */
  private[graft] def rectangleRawScan(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    import spark.implicits._
    val (x0, x1, y0, y1) = (32L, 47L, 96L, 127L)
    Tables.lineitem(spark, sfDir)
      .select(pmod($"l_partkey", lit(256L)).as("x"),
        pmod($"l_orderkey", lit(256L)).as("y"),
        $"l_quantity", $"l_extendedprice", $"l_returnflag")
      .filter($"x".between(x0, x1) && $"y".between(y0, y1))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           sum($"l_quantity").cast("long").as("sum_qty"),
           round(sum($"l_extendedprice"), 4).as("sum_price"))
  }
}
