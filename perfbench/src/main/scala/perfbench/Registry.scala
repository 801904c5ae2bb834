package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `registry_batch`: 15 registry entries run by name through
  * `SparkEntry.queries` under `SparkEntry.withConfs(queryConfs)`, in a
  * fixed order, over seeded tables (perfbench/gen_tables.py).
  *
  * The first, untimed pass collects every result and compares its
  * order-independent digest with the one recorded for this dataset
  * variant in registry_digests.json. Timed passes then write every
  * column to Spark's `noop` sink, so column pruning cannot skip work a
  * real job does, and repeat the list while another pass fits in the
  * run's time (at least once). With `--record <dir>` the run instead
  * writes each result as parquet plus oracle_sql.json into `<dir>` (the
  * layout tools/check_oracle.py reads) and prints the digests.
  */
object Registry {

  private def build(ctx: Ctx, q: String): DataFrame =
    SparkEntry.queries(q)(ctx.spark, ctx.opts("data"))

  private def confs(q: String): Map[String, String] =
    SparkEntry.queryConfs.getOrElse(q, Map.empty)

  private def recorded(path: String): Map[String, String] = {
    val entry = """"([^"]+)"\s*:\s*"([^"]+)"""".r
    if (!Files.exists(Paths.get(path))) Map.empty
    else entry.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val entries = Metrics.registryEntries
    val variant = ctx.opts("variant")
    val want = recorded(ctx.opts("digests"))

    // untimed pass: warm-up and output check in one, three entries at a
    // time (none of the 15 sets session confs, so they can share a session)
    def check(q: String): String = SparkEntry.withConfs(spark, confs(q)) {
      val df = build(ctx, q)
      ctx.opts.get("record").foreach { dir =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      }
      Stats.digestRows(df.collect(), df.columns.toSeq).hex
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val digests = entries.map { case (_, q) => q -> pool.submit(() => check(q)) }
      .map { case (q, f) => q -> f.get() }.toMap
    pool.shutdown()
    var failed = 0
    entries.foreach { case (_, q) =>
      val digest = digests(q)
      ctx.opts.get("record") match {
        case Some(_) => println(s"PERFBENCH_DIGEST v$variant/$q $digest")
        case None if !want.get(s"v$variant/$q").contains(digest) =>
          failed += 1
          System.err.println(s"[perfbench] $q: digest $digest, recorded ${want.get(s"v$variant/$q")}")
        case None =>
      }
    }
    ctx.opts.get("record").foreach { dir =>
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      val sql = entries.flatMap { case (_, n) => SparkEntry.oracleSql.get(n).map(n -> _) }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
        sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    }

    val setupS = ctx.sinceLaunch
    val gc = new GcWatch
    gc.start()
    val times = mutable.LinkedHashMap(entries.map { case (_, q) => q -> mutable.ArrayBuffer.empty[Double] }: _*)
    val t0 = System.nanoTime()
    val limitNs = t0 + ctx.seconds * 1000000000L
    var passes = 0
    // another pass only if it would end by the deadline, judged by the last
    def nextFits: Boolean =
      System.nanoTime() + (System.nanoTime() - t0) / math.max(1, passes) <= limitNs
    while (passes < 1 || nextFits) {
      entries.foreach { case (_, q) =>
        val s0 = System.nanoTime()
        tr.scoped(spark, s"registry.$q") {
          SparkEntry.withConfs(spark, confs(q)) {
            build(ctx, q).write.format("noop").mode("overwrite").save()
          }
        }
        times(q) += (System.nanoTime() - s0) / 1e9
      }
      passes += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val heap = gc.stop()

    val med = times.map { case (q, ts) => q -> Stats.median(ts.toSeq) }
    val e2e = Map(
      "setup_s" -> setupS,
      // one pass over the list at each entry's median: the batch's wall
      // time, to which each entry adds its own share
      "latency_p50_ms" -> med.values.sum * 1000,
      "throughput_per_s" -> passes * entries.size / loopS,
      "heap_live_mb" -> heap.liveMb)
    val detail = entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (fam, qs) =>
      (s"batch_${fam}_s", qs.map { case (_, q) => med(q) }.sum, "s") } ++
      entries.map { case (_, q) => (s"$q.s", med(q), "s") } :+
      (("passes", passes.toDouble, "count"))
    val layer = if (!tr.enabled) Map.empty[String, Double] else
      entries.flatMap { case (_, q) =>
        val c = tr.counters(s"registry.$q")
        Seq(s"registry.$q.s" -> med(q),
            s"registry.$q.shuffle_bytes" -> c.shuffleWrite.toDouble / passes,
            s"registry.$q.exchanges" -> c.exchanges.toDouble / passes)
      }.toMap ++ heap.layer
    Outcome(attempted = entries.size * (passes + 1), failed = failed,
      e2e = e2e, layer = layer, detail = detail)
  }
}
