package graft.streaming

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, Trigger}

/** Incremental near-duplicate detection: documents arrive as a
  * stream, and each new document is checked against the FULL history
  * without ever re-reading it — the shape a production ingest
  * pipeline needs (batch d02 re-banding the whole corpus per delivery
  * is O(corpus) per increment; this is O(increment)).
  *
  * Design (same MinHash-LSH family as the batch operator, on the
  * production id path):
  *  - token ids are the 60-bit md5-prefix hash mod P — per-row
  *    arithmetic, NO vocabulary join (a stream can't sort a global
  *    vocabulary anyway), and — unlike the xxhash64 ids rounds 2–8
  *    used — replayable in DuckDB (`('0x'‖substr(md5,1,15))::BIGINT`,
  *    the qa07/d19 precedent), so the batch twin d02_production is
  *    fully oracle-checked (VERDICT r8 next-round #2);
  *  - all 16 signature mins are Column algebra over the shingle
  *    array (`array_min ∘ transform`) — zero shuffles before the
  *    keyed state;
  *  - docs explode to 8 band rows keyed by (band, bandkey); a
  *    `transformWithState` ListState holds the signatures previously
  *    seen in each bucket, so an arriving doc pairs ONLY against its
  *    bucket's history (state is partitioned by bucket across
  *    executors, RocksDB-backed, optional TTL bounds it for
  *    unbounded streams);
  *  - the same pair can surface from several bands — consumers take
  *    `distinct` on (doc_a, doc_b), exactly like the batch operator
  *    dedups its candidate join.
  *
  * At-least-once note: on recovery-replay a bucket may re-see a doc;
  * the processor skips docs already in state, so state stays exact
  * and only the OUTPUT can repeat (downstream distinct absorbs it).
  */
object NearDupStream {

  private val Bands = 8
  private[graft] val Sigs = 16

  case class BandedDoc(band: Int, bandkey: String, doc_id: Long, sigs: Seq[Long])
  case class DocSig(doc_id: Long, sigs: Seq[Long])
  case class CandPair(doc_a: Long, doc_b: Long, band: Int, est_jaccard: Double)

  /** (doc_id, sig_0..sig_15) from (doc_id, text) — per-row signature
    * computation on the production hash path. Round 17: the md5-id +
    * 16-affine-min work runs in ONE native expression
    * ([[graft.plans.MinhashSigs]] — bit-identical to the previous
    * 16-lambda Column spelling, spec-pinned) instead of 16
    * interpreted higher-order columns whose planning alone cost
    * ~1.5s per invocation; the 16 element_at projections below read
    * the ONCE-computed array (element_at of an attribute is cheap —
    * CollapseProject will not inline a non-cheap expression into 16
    * references). */
  def withSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextFns.shingleArray(col("t"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), graft.plans.MinhashSigs(col("sh")).as("sigs"))
      .select(col("doc_id") +: (0 until Sigs).map(i =>
        element_at(col("sigs"), i + 1).as(s"sig_$i")): _*)

  /** Explode the wide signature row into its 8 band rows. */
  def banded(sigs: DataFrame): Dataset[BandedDoc] = {
    import sigs.sparkSession.implicits._
    val bandStructs = array((0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", col(s"sig_${2 * b}").cast("string"),
          col(s"sig_${2 * b + 1}").cast("string")).as("bandkey"))
    }: _*)
    sigs.select(col("doc_id"),
        array((0 until Sigs).map(i => col(s"sig_$i")): _*).as("sigs"),
        explode(bandStructs).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bandkey").as("bandkey"),
        col("doc_id"), col("sigs"))
      .as[BandedDoc]
  }

  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / Sigs

  /** Keyed bucket state: every doc ever seen in this (band, bandkey)
    * bucket. New docs emit a candidate pair against each stored doc,
    * then join the history themselves. */
  private[streaming] class BucketProcessor(stateTtlMs: Long)
      extends StatefulProcessor[(Int, String), BandedDoc, CandPair] {
    @transient private var seen: ListState[DocSig] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState("seen", Encoders.product[DocSig],
        StateTtl.config(stateTtlMs))

    override def handleInputRows(key: (Int, String), rows: Iterator[BandedDoc],
                                 timerValues: TimerValues): Iterator[CandPair] = {
      var hist = seen.get().toList
      val known = scala.collection.mutable.Set(hist.map(_.doc_id): _*)
      val out = List.newBuilder[CandPair]
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (!known.contains(r.doc_id)) {
          hist.foreach { h =>
            val (a, b) = if (h.doc_id < r.doc_id) (h.doc_id, r.doc_id)
                         else (r.doc_id, h.doc_id)
            out += CandPair(a, b, key._1, estJaccard(h.sigs, r.sigs))
          }
          val d = DocSig(r.doc_id, r.sigs)
          seen.appendValue(d)
          hist = d :: hist
          known += r.doc_id
        }
      }
      out.result().iterator
    }
  }

  /** Streaming candidate pairs from a stream of (doc_id, text).
    * Callers dedup on (doc_a, doc_b) downstream. Selects the RocksDB
    * state store (required by transformWithState, and the provider a
    * large deployment wants anyway). */
  def candidates(docs: DataFrame, stateTtlMs: Long = 0L): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    MaillogStream.useRocksDbStateStore(docs.sparkSession)
    banded(withSignatures(docs))
      .groupByKey(r => (r.band, r.bandkey))
      .transformWithState(new BucketProcessor(stateTtlMs),
        StateTtl.mode(stateTtlMs), OutputMode.Append())
  }

  /** TTL-enabled runs are in processing-time mode, where Spark
    * schedules empty micro-batches forever — bounded runs need the
    * same drain watchdog as the maillog daemon (see
    * [[MaillogStream.stopWhenDrained]]). */
  def stopWhenDrained(qs: Seq[StreamingQuery]): Unit =
    MaillogStream.stopWhenDrained(qs)

  case class HashedDoc(h: String, doc_id: Long, text: String)

  /** Keyed by content hash: the first batch to present a hash emits
    * its MINIMUM doc_id (the batch-d01 keeper rule, so the surviving
    * representative is deterministic even when copies share a
    * micro-batch); every later copy is suppressed by the state bit. */
  private[streaming] class FirstSeenProcessor
      extends StatefulProcessor[String, HashedDoc, HashedDoc] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState("seen", Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(h: String, rows: Iterator[HashedDoc],
                                 timerValues: TimerValues): Iterator[HashedDoc] =
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(rows.minBy(_.doc_id))
      }
  }

  /** Incremental EXACT dedup: emit each content hash's first-seen
    * document — min doc_id within the first micro-batch that carries
    * the hash, exactly batch d01's keeper rule — suppressing every
    * later copy against all history. Hash state is partitioned,
    * RocksDB-backed and restart-safe via the checkpoint. Exact dedup
    * over ALL history fundamentally needs O(distinct) state; an
    * unbounded deployment bounds it with a TTLConfig on the state
    * (accepting re-emission past the horizon). */
  def exactDedup(docs: DataFrame): Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    MaillogStream.useRocksDbStateStore(docs.sparkSession)
    docs.select(md5(col("text")).as("h"), col("doc_id"), col("text"))
      .as[HashedDoc]
      .groupByKey(_.h)
      .transformWithState(new FirstSeenProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Watermark-bounded exact dedup for UNBOUNDED streams: duplicates
    * are suppressed only within `delay` of the copy's event time, so
    * the hash state stays O(distinct hashes per horizon) instead of
    * O(all history). A copy arriving past the horizon is re-emitted —
    * the standard trade: long-range duplicates are absorbed by the
    * batch dedup at rest (d01), the stream handles the near-term
    * burst. `docs` must carry an event-time column `tsCol`. */
  def exactDedupWithinWatermark(docs: DataFrame, tsCol: String,
                                delay: String): DataFrame = {
    MaillogStream.useRocksDbStateStore(docs.sparkSession)
    docs.withColumn("h", md5(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("h")
  }

  /** Streaming twin of the FROZEN-index near screen (round 17 — the
    * band store's serving twin, the frozenTokenizerStream decision
    * record verbatim): arriving (doc_id, text) micro-batches band
    * through the literal production signature algebra and probe the
    * SHIPPED bucket table ([[graft.operators.Dedup.nearMatchesFrozen]]
    * — one definition with the batch probe and p29's nightly). A
    * mid-stream refreezeNearDupIfStale lands between batches
    * ([[BatchDirs]]). */
  def matchFrozenStream(docStream: DataFrame, name: String, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"neardup_match_$name", outDir, checkpoint,
        trigger) { batch =>
      graft.operators.Dedup.nearMatchesFrozen(batch.sparkSession, batch, name)
    }

  /** CONTINUOUS drift monitor for the frozen band index (round 17 —
    * the stream_band_drift/stream_text_drift sibling for the
    * near-dup screen): per micro-batch, the arrivals' band rows
    * graded against the shipped bucket population through the ONE
    * d21 aggregate ([[graft.operators.Dedup.nearDupStaleness]]),
    * one generation per batch ([[BatchDirs]]). */
  def indexDriftStream(docStream: DataFrame, name: String, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"neardup_drift_$name", outDir, checkpoint,
        trigger) { batch =>
      graft.operators.Dedup.nearDupStaleness(batch.sparkSession, batch, name)
    }

  /** The previous call's persisted banding, released on the next
    * call: an internal persist with no caller-visible handle would
    * otherwise pin one cached copy PER CALL for the session lifetime
    * (periodic ground-truth validation runs would accumulate them). */
  private val bandCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Batch twin on the same hash path (md5-prefix ids): the ground
    * truth an incremental run must reproduce. Returns distinct
    * (doc_a, doc_b). The banding is persisted (both self-join sides —
    * without it the 16 array_min∘transform signature passes run
    * twice) and stays warm until the NEXT batchCandidates call
    * releases it. */
  def batchCandidates(docs: DataFrame): DataFrame = {
    val b = banded(withSignatures(docs)).toDF().persist()
    val prev = bandCache.getAndSet(b)
    // release ONLY when the input actually changed: the CacheManager
    // keys entries by plan, so for a repeated identical input `prev`
    // and `b` share one cache entry and unpersisting prev would evict
    // the data b is about to (re)use
    if (prev != null && (prev ne b) &&
        !prev.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)) {
      try prev.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    b.as("a").join(b.as("x"),
        col("a.band") === col("x.band") && col("a.bandkey") === col("x.bandkey") &&
        col("a.doc_id") < col("x.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
      .distinct()
  }
}
