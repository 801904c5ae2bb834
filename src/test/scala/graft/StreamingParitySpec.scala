package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoder, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{size, split, trim}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.Assertions._

import graft.streaming.{StreamingAbTest, StreamingAnomaly, StreamingDedup,
  StreamingFunnel, StreamingHoltWinters, StreamingPsiDrift,
  StreamingTokenBudget, TwsSessions}

/** Prefix parity, the consistency contract of Structured Streaming
  * (SIGMOD 2018): after every micro-batch a streaming twin's cumulative
  * output equals its batch registry query over the input seen so far,
  * restricted to what is final at that point. Each check writes the
  * prefix as the `events` (or `documents`) table of a fresh sf dir and
  * runs the registry entry by name, so the DuckDB-oracle-checked batch
  * query is the reference every twin answers to.
  *
  * Three twins are not prefix-consistent by design; their rows assert
  * the relation their Scaladoc claims instead, and say why. */
object StreamingParity {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class Doc(doc_id: Long, text: String, source: String)

  /** One table row: a twin, its batch query, and the check, which
    * returns the twin's final output. */
  final case class Parity(twin: String, query: String,
                          check: SparkSpec => Seq[Any])

  private val Base = 1704067200000L // 2024-01-01T00:00:00Z
  private val HourMs = 3600000L

  /** Seeded telemetry over `hours` hours, in event-time order. Every
    * event type occurs in every hour (an hour closes for Holt-Winters
    * only on the next hour's first event), timestamps are distinct (no
    * order ties), values are exact quarters (float sums are order-free)
    * and a few spikes give the anomaly twin work. Micro-batches are cut
    * at the hour boundaries in `cuts`. */
  private def telemetry(hours: Int, cuts: Seq[Int]): Seq[Seq[Ev]] = {
    val rnd = new Random(7)
    val types = Seq("view", "click", "purchase", "error")
    var id = 0L
    val byHour = (0 until hours).map { h =>
      val kinds = rnd.shuffle(types.flatMap(t => Seq.fill(1 + rnd.nextInt(3))(t)))
      val secs = rnd.shuffle((0 until 3600).toVector).take(kinds.size).sorted
      kinds.zip(secs).map { case (t, s) =>
        id += 1
        val value = if (rnd.nextInt(40) == 0) 100.0 else (1 + rnd.nextInt(40)) / 4.0
        Ev(id, new Timestamp(Base + h * HourMs + s * 1000L + rnd.nextInt(1000)),
          rnd.nextInt(8).toLong, t, value)
      }
    }
    (0 +: cuts :+ hours).sliding(2).map { case Seq(a, b) =>
      byHour.slice(a, b).flatten
    }.toSeq
  }

  private lazy val events = telemetry(72, Seq(52, 62))

  private val queryIds = new AtomicInteger()

  /** Streams `batches` through `twin` on RocksDB; after each micro-batch
    * hands the batch index, the prefix and the twin's cumulative output
    * to `check`. Returns the final output. */
  private def replay[I: Encoder, O: Encoder](spec: SparkSpec,
      batches: Seq[Seq[I]], outputMode: String)(twin: Dataset[I] => Dataset[O])(
      check: (Int, Seq[I], Seq[O]) => Unit): Seq[O] = spec.withRocksDb {
    implicit val sqlCtx: SQLContext = spec.spark.sqlContext
    val input = MemoryStream[I]
    val name = s"parity_${queryIds.incrementAndGet()}"
    val q = twin(input.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.indices.map { k =>
        input.addData(batches(k))
        q.processAllAvailable()
        val out = spec.spark.table(name).as[O].collect().toSeq
        check(k, batches.take(k + 1).flatten, out)
        out
      }.last
    } finally q.stop()
  }

  /** Registry entry `query` over `prefix`, written as the `table` table
    * of a fresh sf dir. */
  private def batch[T: Encoder](spec: SparkSpec, query: String, table: String,
                                prefix: Seq[T]): Array[Row] = {
    val dir = spec.tempDir("graft-parity")
    spec.spark.createDataset(prefix).write.parquet(s"$dir/$table.parquet")
    SparkEntry.queries(query)(spec.spark, dir).collect()
  }

  private def round(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A session closes on an in-batch gap or when the watermark (max
    * event time − 10 min) passes its last event + gap. So the final part
    * of tel_sessionize over the prefix is every session except each
    * user's last, plus that last one once its timer has fired. Sessions
    * compare as (user, ordinal, size, sum). */
  def sessions(spec: SparkSpec, batches: Seq[Seq[Ev]]): Seq[TwsSessions.ClosedSession] = {
    import spec.spark.implicits._
    replay(spec, batches, "append")(evs => TwsSessions.sessionize(
        evs.map(e => TwsSessions.SessionEvent(e.user_id, e.ts, e.value)))) {
      (k, prefix, out) =>
        val watermark = prefix.map(_.ts.getTime).max - 10 * 60000L
        val lastTs = prefix.groupBy(_.user_id).map { case (u, es) => u -> es.map(_.ts.getTime).max }
        val all = batch(spec, "tel_sessionize", "events", prefix).map(r =>
          (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
           r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        val lastIdx = all.groupBy(_._1).map { case (u, ss) => u -> ss.map(_._2).max }
        val want = all.filter { case (u, idx, _, _) =>
          idx < lastIdx(u) || lastTs(u) + TwsSessions.DefaultGapMs < watermark
        }.toSet
        val got = out.groupBy(_.user_id).flatMap { case (u, ss) =>
          ss.sortBy(_.session_start.getTime).zipWithIndex.map { case (s, i) =>
            (u, i + 1L, s.n_events, round(s.sum_value, 4))
          }
        }.toSet
        assert(got === want, s"closed sessions after micro-batch $k")
    }
  }

  /** A conversion is final the moment it streams out: per-stage user
    * counts equal tel_funnel over the prefix. Few events per user, so
    * many users click or buy before the stage they need. */
  private def funnel(spec: SparkSpec): Seq[StreamingFunnel.Conversion] = {
    import spec.spark.implicits._
    val rnd = new Random(19)
    val stages = Seq("view", "click", "purchase")
    val input = (0 until 240).map(i => Ev(i.toLong, new Timestamp(Base + i * 60000L),
      rnd.nextInt(60).toLong, stages(rnd.nextInt(3)), 1.0))
    replay(spec, input.grouped(80).toSeq, "append")(evs => StreamingFunnel.conversions(
        evs.map(e => StreamingFunnel.FunnelEvent(e.user_id, e.ts, e.event_type)))) {
      (k, prefix, out) =>
        val want = batch(spec, "tel_funnel", "events", prefix)
          .map(r => r.getAs[String]("stage") -> r.getAs[Long]("users"))
          .filter(_._2 > 0).toMap
        val got = out.groupBy(_.stage).map { case (s, cs) => s -> cs.size.toLong }
        assert(out.map(c => (c.user_id, c.stage)).distinct.size === out.size,
          s"a (user, stage) converted twice by micro-batch $k")
        assert(got === want, s"stage users after micro-batch $k")
    }
  }

  /** Documents arrive in doc_id order, so each hash's first-seen doc is
    * its smallest id: the keep-set equals dedup_exact over the prefix. */
  private def dedup(spec: SparkSpec): Seq[StreamingDedup.Kept] = {
    import spec.spark.implicits._
    val rnd = new Random(11)
    val docs = (0 until 45).map(i =>
      Doc(i.toLong, s"doc content ${rnd.nextInt(17)}", "web"))
    replay(spec, docs.grouped(15).toSeq, "append")(ds => StreamingDedup.dedupStream(
        ds.map(d => StreamingDedup.Doc(d.doc_id, d.text)))) { (k, prefix, out) =>
      val want = batch(spec, "dedup_exact", "documents", prefix)
        .map(r => r.getAs[String]("text_hash") -> r.getAs[Long]("keep_doc_id")).toMap
      assert(out.size === want.size, s"a hash emitted twice by micro-batch $k")
      assert(out.map(d => d.content_md5 -> d.doc_id).toMap === want,
        s"keep-set after micro-batch $k")
      val chars = prefix.map(d => d.doc_id -> d.text.length.toLong).toMap
      assert(out.forall(d => d.n_chars == chars(d.doc_id)))
    }
  }

  /** The read-out is a function of integer sufficient statistics, free
    * of order and cuts: the latest read-out per experiment equals
    * tel_ab_test over the prefix wherever both arms hold two samples. */
  def abTest(spec: SparkSpec, batches: Seq[Seq[Ev]]): Seq[StreamingAbTest.Read] = {
    import spec.spark.implicits._
    replay(spec, batches, "update")(evs => StreamingAbTest.reads(evs.selectExpr(
        "event_type",
        "CAST(CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)" +
          " AS LONG) % 2 AS INT) AS arm",
        "greatest(CAST(round(value * 100) AS LONG), 1L) AS v100")
      .as[StreamingAbTest.Ev])) { (k, prefix, out) =>
      val want = batch(spec, "tel_ab_test", "events", prefix)
        .filter(r => r.getAs[Long]("n_a") >= 2 && r.getAs[Long]("n_b") >= 2)
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("mean_a"),
            r.getAs[Double]("mean_b"), r.getAs[Double]("t_stat"),
            r.getAs[Boolean]("significant")))).toMap
      val got = out.groupBy(_.event_type).map { case (t, rs) =>
        val r = rs.maxBy(r => r.n_a + r.n_b)
        t -> ((r.n_a, r.n_b, r.mean_a, r.mean_b, r.t_stat, r.significant))
      }
      assert(got === want, s"read-outs after micro-batch $k")
    }
  }

  /** An hour closes only when the next hour's first event arrives, so
    * the final part of the prefix is every hour before its last. On
    * input where every series has events in every hour, the latest model
    * per series equals tel_holt_winters over those hours once 2·24 hours
    * have closed. */
  private def holtWinters(spec: SparkSpec): Seq[StreamingHoltWinters.Forecast] = {
    import spec.spark.implicits._
    val hour = (e: Ev) => Math.floorDiv(e.ts.getTime, HourMs)
    replay(spec, events, "update")(evs => StreamingHoltWinters.forecasts(
        evs.map(e => StreamingHoltWinters.Ev(e.event_type, e.ts.getTime * 1000L)),
        24, hour(events.head.head))) { (k, prefix, out) =>
      val open = hour(prefix.last)
      val want = batch(spec, "tel_holt_winters", "events", prefix.filter(hour(_) < open))
        .filter(_.getAs[Long]("n") >= 48)
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n"), r.getAs[Double]("level"), r.getAs[Double]("trend"),
            r.getAs[Double]("s_next"), r.getAs[Double]("forecast")))).toMap
      val got = out.groupBy(_.event_type).map { case (t, fs) =>
        val f = fs.maxBy(_.n_hours)
        t -> ((f.n_hours, round(f.level, 6), round(f.trend, 6),
          round(f.s_next, 6), round(f.forecast, 6)))
      }
      assert(got === want, s"models after micro-batch $k")
    }
  }

  /** Not prefix-consistent by design: the twin scores each event against
    * the moments of the events before it, tel_anomaly against the whole
    * table's. So this row asserts the twin's own claim: its alerts equal
    * a from-scratch serial fold over the prefix. */
  private def anomaly(spec: SparkSpec): Seq[StreamingAnomaly.Alert] = {
    import spec.spark.implicits._
    replay(spec, events, "append")(evs => StreamingAnomaly.alerts(evs.map(e =>
        StreamingAnomaly.MetricEvent(e.event_type, e.event_id, e.ts, e.value)))) {
      (k, prefix, out) =>
        val want = prefix.groupBy(_.event_type).values.flatMap { es =>
          var n, s, ss = 0L
          es.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val v = math.round(e.value * 100)
            val nd = n.toDouble
            val sd = math.sqrt((ss.toDouble - s.toDouble * s.toDouble / nd) / (nd - 1))
            val z = (v - s.toDouble / nd) / sd
            val alert = if (n >= 30 && sd > 0 && math.abs(z) >= 3.0)
              Some((e.event_id, z, n)) else None
            n += 1; s += v; ss += v * v
            alert
          }
        }.toSet
        assert(out.map(a => (a.event_id, a.z, a.n_baseline)).toSet === want,
          s"alerts after micro-batch $k")
    }
  }

  /** Not prefix-consistent by design: the twin freezes its reference
    * from the first `warmN` values per series, tel_psi_drift splits the
    * prefix at its time midpoint. So after each micro-batch this row
    * asserts the twin's serial fold; on the full input, whose midpoint
    * falls exactly after `warmN` values per series, it also equals
    * tel_psi_drift. */
  private def psiDrift(spec: SparkSpec): Seq[StreamingPsiDrift.Drift] = {
    import spec.spark.implicits._
    val rnd = new Random(13)
    val steps = 600
    val warmN = steps / 2L
    val input = (0 until steps).flatMap { i =>
      val v = (1 + rnd.nextInt(400)) / 4.0
      Seq(Ev(2L * i, new Timestamp(Base + i * 60000L), 0L, "stable", v),
          Ev(2L * i + 1, new Timestamp(Base + i * 60000L + 1), 0L, "shifted",
            if (i < warmN) v else v * 8))
    }
    val batches = input.grouped(input.size / 3).toSeq
    replay(spec, batches, "update")(evs => StreamingPsiDrift.drifts(evs.map(e =>
        StreamingPsiDrift.Ev(e.event_type, e.ts.getTime, e.value)), warmN)) {
      (k, prefix, out) =>
        val want = prefix.groupBy(_.event_type).flatMap { case (t, es) =>
          val (ref, cur) = es.sortBy(_.ts.getTime).map(e =>
            graft.functions.DdsketchKernel.bucketIdx(e.value)).splitAt(warmN.toInt)
          val counts = (bs: Seq[Long]) => bs.groupBy(identity).map { case (b, c) => b -> c.size.toLong }
          if (ref.size < warmN || cur.size < 2) None
          else {
            val (nb, psi) = StreamingPsiDrift.psiOf(counts(ref), counts(cur),
              ref.size.toLong, cur.size.toLong)
            Some(t -> ((ref.size.toLong, cur.size.toLong, nb, psi, psi >= 0.2)))
          }
        }
        val got = out.groupBy(_.event_type).map { case (t, ds) =>
          val d = ds.maxBy(_.n_cur)
          t -> ((d.n_ref, d.n_cur, d.n_bins, d.psi, d.drifted))
        }
        assert(got === want, s"drift read-outs after micro-batch $k")
        if (k == batches.size - 1) {
          val full = batch(spec, "tel_psi_drift", "events", prefix).map(r =>
            r.getAs[String]("event_type") ->
              ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Long]("n_bins"),
                r.getAs[Double]("psi"), r.getAs[Boolean]("drifted")))).toMap
          assert(got === full, "full input vs tel_psi_drift")
          assert(got("shifted")._5 && !got("stable")._5)
        }
    }
  }

  /** Not prefix-consistent by design: the twin admits in arrival order
    * (doc_id order inside a micro-batch), text_token_budget in
    * md5(doc_id) order. Fed in the batch query's order they agree: on a
    * corpus whose doc_id order is also its md5 order, each source's
    * admissions equal text_token_budget over every prefix, and every
    * verdict obeys the straddler rule. */
  private def tokenBudget(spec: SparkSpec): Seq[StreamingTokenBudget.Verdict] = {
    import spec.spark.implicits._
    val n = 90
    val rnd = new Random(17)
    // the i-th id is the next one whose md5 falls in the i-th of n
    // equal slices of the hash space
    var next = 0L
    val docs = (0 until n).map { i =>
      while (Integer.parseInt(StreamingDedup.md5Hex(next.toString).take(4), 16) *
               n / 65536 != i) next += 1
      next += 1
      Doc(next - 1, Seq.fill(10 + rnd.nextInt(50))("tok").mkString(" "),
        Seq("web", "books", "code")(rnd.nextInt(3)))
    }
    replay(spec, docs.grouped(n / 3).toSeq, "append")(ds => StreamingTokenBudget.gate(
        ds.select($"doc_id", $"source",
          size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
          .as[StreamingTokenBudget.Doc])) { (k, prefix, out) =>
      val want = batch(spec, "text_token_budget", "documents", prefix)
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("tokens_total"),
            r.getAs[Long]("n_kept"), r.getAs[Long]("tokens_kept")))).toMap
      val got = out.groupBy(_.source).map { case (src, vs) =>
        val kept = vs.filter(_.admitted)
        src -> ((vs.size.toLong, vs.map(_.n_tok).sum, kept.size.toLong, kept.map(_.n_tok).sum))
      }
      assert(got === want, s"admissions after micro-batch $k")
      out.foreach { v =>
        assert(v.admitted === (v.tok_before < 800L), v)
        assert(v.tok_after === (if (v.admitted) v.tok_before + v.n_tok else v.tok_before), v)
      }
    }
  }

  val rows: Seq[Parity] = Seq(
    Parity("TwsSessions", "tel_sessionize", sessions(_, events)),
    Parity("StreamingFunnel", "tel_funnel", funnel),
    Parity("StreamingDedup", "dedup_exact", dedup),
    Parity("StreamingAbTest", "tel_ab_test", abTest(_, events)),
    Parity("StreamingHoltWinters", "tel_holt_winters", holtWinters),
    Parity("StreamingAnomaly", "tel_anomaly", anomaly),
    Parity("StreamingPsiDrift", "tel_psi_drift", psiDrift),
    Parity("StreamingTokenBudget", "text_token_budget", tokenBudget))

  def check(spec: SparkSpec, twin: String): Seq[Any] =
    rows.find(_.twin == twin).get.check(spec)
}

class StreamingParitySpec extends SparkSpec {
  StreamingParity.rows.foreach { p =>
    test(s"prefix parity: ${p.twin} vs ${p.query}") {
      assert(p.check(this).nonEmpty, "the row's input produced no output")
    }
  }
}
