package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, ValueState}

/** Streaming per-source TOKEN-BUDGET admission gate — the streaming
  * twin of [[graft.llm.TextOps.tokenBudget]]: stop admitting a
  * source's documents once its token budget is filled, the front-door
  * valve a continuous ingestion pipeline applies so one loud source
  * can't flood the training mix while the batch re-balance only runs
  * nightly.
  *
  * The admission RULE is the batch op's, verbatim: a document is
  * admitted iff the source's running admitted-token total STARTS under
  * the budget (straddler in — the boundary doc crosses the line;
  * budget-exact truncation is the tokenizer's job downstream). What
  * differs is the ORDER the rule folds over: the batch op ranks by the
  * md5(doc_id) consistent hash (it can see the whole corpus), a stream
  * admits in arrival order — it cannot reorder the future. Within a
  * micro-batch rows fold in doc_id order, so batch cuts + within-batch
  * order fully specify the outcome and a from-scratch serial replay is
  * bit-identical (the [[StreamingHeavyHitters]] determinism contract).
  * On a corpus whose doc_id order is also its md5(doc_id) order,
  * arrival order is the batch op's order, and the admissions equal its
  * selection over every prefix (StreamingParitySpec).
  *
  * Every document is emitted WITH its verdict and the before/after
  * running totals (auditable admission, not silent drops — the
  * [[StreamingQualityGate]] discipline). State is ONE long per source,
  * forever — the bounded-memory contract; optional TTL re-opens a
  * source's budget after quiet periods (nightly refill). */
object StreamingTokenBudget {

  case class Doc(doc_id: Long, source: String, n_tok: Long)
  case class Verdict(doc_id: Long, source: String, n_tok: Long,
                     admitted: Boolean, tok_before: Long, tok_after: Long)

  case class St(admitted_tok: Long)

  class Processor(budget: Long, ttl: java.time.Duration = null)
      extends StatefulProcessor[String, Doc, Verdict] {

    @transient private var state: ValueState[St] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[St]("budget", Encoders.product[St],
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

    override def handleInputRows(key: String, rows: Iterator[Doc],
                                 timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Verdict] = {
      var cur = if (state.exists()) state.get().admitted_tok else 0L
      val out = rows.toArray.sortBy(_.doc_id).map { d =>
        val admit = cur < budget
        val before = cur
        if (admit) cur += d.n_tok
        Verdict(d.doc_id, key, d.n_tok, admit, before, cur)
      }
      state.update(St(cur))
      out.iterator
    }
  }

  /** Append-mode stream: one verdict row per input document. Requires
    * the RocksDB state store (like every stateful twin here). */
  def gate(docs: Dataset[Doc], budget: Long = 800L,
           ttl: java.time.Duration = null): Dataset[Verdict] = {
    import docs.sparkSession.implicits._
    val mode = if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime()
    docs
      .groupByKey(_.source)
      .transformWithState(new Processor(budget, ttl), mode, OutputMode.Append())
  }
}
