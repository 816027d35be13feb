package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}

/** Streaming twin of d17's incremental verbatim-span screen
  * (VERDICT r5 #4): documents ARRIVE as a stream and each is
  * measured against a FROZEN corpus seed index — every maximal
  * token span ≥ 12 tokens the arriving doc shares verbatim with any
  * corpus doc — without ever re-reading the corpus or re-screening
  * past arrivals.
  *
  * Why this shape streams when d14's pairwise form cannot: the
  * corpus side is frozen (a static DataFrame, exactly the index
  * [[graft.operators.Dedup.corpusSeedIndex]] builds once per corpus
  * freeze), so the stream-static seed join needs no unbounded
  * state — each arriving doc's matches are complete the moment its
  * micro-batch joins the index.
  *
  * Design:
  *  - arriving (doc_id, text) rows explode to positioned 8-gram
  *    seeds (the SAME Column algebra as the batch operator —
  *    [[Dedup.spanSeedsRaw]] — so the two engines cannot drift);
  *  - a stream-static equi-join on `term` against the index (which
  *    carries the batch side's ≤ 50 occurrence screen, bounding
  *    per-seed fan-out) yields (doc_inc, doc_corp, ia, ib) matches;
  *  - maximal spans are runs of consecutive seed positions per
  *    (doc_inc, doc_corp, diagonal) — the batch form's
  *    gaps-and-islands window, computed here in a
  *    `transformWithState` processor keyed by that same triple. A
  *    document's seeds ride ONE micro-batch (they explode from one
  *    row), so each key's rows are complete within the batch and
  *    state is only a replay guard: on recovery-replay the key is
  *    skipped, making output effectively exactly-once (the guard
  *    bit commits atomically with the emitted spans).
  *
  * The same caveat as the batch operator: if the SAME doc_id is
  * deliberately re-sent in a later batch (not a recovery replay),
  * the guard suppresses re-measurement — matching d15/d17's
  * first-arrival-wins discipline.
  */
object SpanStream {

  case class SeedMatch(doc_inc: Long, doc_corp: Long, diag: Long,
                       ia: Long, ib: Long)
  case class Span(doc_inc: Long, doc_corp: Long, inc_start: Long,
                  corp_start: Long, span_tokens: Long)

  /** Islands over one (doc_inc, doc_corp, diag) slice: seeds sorted
    * by position, consecutive positions merge into one span of
    * run_len + 7 tokens. State is a replay-guard bit per key —
    * FOREVER with no TTL (one bit per matched (doc_inc, doc_corp,
    * diag) triple), so long-running deployments pass a TTL (the
    * NearDupStream knob): expiring a guard narrows the replay window
    * to the TTL (a recovery replay older than it re-emits that key's
    * spans) in exchange for bounded state. */
  private[streaming] class SpanProcessor(minSpan: Int, stateTtlMs: Long)
      extends StatefulProcessor[(Long, Long, Long), SeedMatch, Span] {
    @transient private var done: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      done = getHandle.getValueState("done", Encoders.scalaBoolean,
        StateTtl.config(stateTtlMs))

    override def handleInputRows(key: (Long, Long, Long),
                                 rows: Iterator[SeedMatch],
                                 timerValues: TimerValues): Iterator[Span] = {
      if (done.exists()) return Iterator.empty
      done.update(true)
      val sorted = rows.map(r => (r.ia, r.ib)).toArray.sortBy(_._1)
      val out = List.newBuilder[Span]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(j)._1 + 1)
          j += 1
        val spanTokens = (j - i + 1) + 7L
        if (spanTokens >= minSpan)
          out += Span(key._1, key._2, sorted(i)._1, sorted(i)._2, spanTokens)
        i = j + 1
      }
      out.result().iterator
    }
  }

  /** Streaming spans from a stream of (doc_id, text) against a
    * static corpus seed index (doc_corp, ib, term) — build it with
    * [[Dedup.corpusSeedIndex]]. Output rows match batch d17's
    * schema (minus its presentation order).
    *
    * `stateTtlMs > 0` bounds the replay-guard state and makes the
    * stream permanently non-quiescent — TTL's processing-time
    * eviction timers schedule empty micro-batches for the query's
    * whole life, so `AvailableNow` never terminates and
    * `processAllAvailable()` never returns (the
    * [[SemStream.verdicts]] rule; measured pathology documented
    * there). Bounded replays run with `stateTtlMs = 0`. */
  def spans(docs: DataFrame, corpusIdx: DataFrame,
            minSpan: Int = 12, stateTtlMs: Long = 0L): Dataset[Span] = {
    import docs.sparkSession.implicits._
    MaillogStream.useRocksDbStateStore(docs.sparkSession)
    val inc = Dedup.spanSeedsRaw(docs)
      .select(col("doc_id").as("doc_inc"), col("pos").as("ia"), col("term"))
    inc.join(corpusIdx, "term")
      .select(col("doc_inc"), col("doc_corp"),
        (col("ia") - col("ib")).as("diag"), col("ia"), col("ib"))
      .as[SeedMatch]
      .groupByKey(r => (r.doc_inc, r.doc_corp, r.diag))
      .transformWithState(new SpanProcessor(minSpan, stateTtlMs),
        StateTtl.mode(stateTtlMs), OutputMode.Append())
  }
}
