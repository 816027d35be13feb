package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming twin of d19's bloom pre-screen — the ingest-time shape
  * the filter exists for: a deployment freezes the corpus, builds the
  * filter words ONCE, and screens every arriving document against it
  * with no per-arrival corpus work at all.
  *
  * The plan is fully STATELESS (the QualityStream class): per-row
  * position algebra (the literal shared [[Dedup.bloomPosed]]
  * definitions with the filter geometry shipped as a literal — the
  * SemStream ship-the-quantizer pattern, here a single long), three
  * stream-static left joins against the frozen words table, and a
  * stream-static left join against the frozen corpus-hash table that
  * ONLY the bloom-hit branch reaches. No state store, no watermark,
  * no output-mode constraint beyond append; checkpointed AvailableNow
  * replays terminate normally (nothing schedules timers).
  *
  * BloomStreamSpec pins: streamed verdicts == batch d19 row-for-row
  * over the same frozen corpus, through a checkpoint restart.
  */
object BloomStream {

  /** Frozen screen state, built at corpus freeze: (words, corpHash,
    * mbits). `mbits` is collected here — ONE aggregate row at build
    * time (bounded by construction), which is what lets the per-row
    * streaming algebra stay literal-only. */
  def frozenFilter(corpus: DataFrame, bitsPerElem: Long = 10L)
      : (DataFrame, DataFrame, Long) = {
    val base = Dedup.bloomBase(corpus)
    // the ONE sizing definition (ADVICE r18 convention change: per
    // DISTINCT hash — a restated per-doc formula here would silently
    // desynchronize the twin's geometry from batch d19's)
    val mbits = Dedup.bloomGeom(base, bitsPerElem).head().getLong(0)
    val posed = Dedup.bloomPosed(base.withColumn("mbits", lit(mbits)))
    val words = Dedup.bloomWords(posed)
    val corpHash = base.groupBy("h").agg(min(col("doc_id")).as("exact_match"))
    (words, corpHash, mbits)
  }

  /** Per-arrival verdicts over a streaming (doc_id, text) frame —
    * the same (doc_id, bloom_hit, exact_match, outcome) rows batch
    * d19 emits for the increment slice. */
  def verdicts(stream: DataFrame, words: DataFrame, corpHash: DataFrame,
      mbits: Long): DataFrame =
    Dedup.bloomVerdicts(
      Dedup.bloomPosed(Dedup.bloomBase(stream).withColumn("mbits", lit(mbits))),
      words, corpHash)

  /** CONTINUOUS absorb-and-monitor loop for the frozen Bloom screen
    * (round 17 — the store-backed twin the stateless [[verdicts]]
    * screen lacked): each arriving (doc_id, text) micro-batch is
    * ABSORBED into the live generation (the mergeable word-OR +
    * hash-append — [[Dedup.absorbBloomArrivals]]; a replayed batch
    * drops whole at the hash anti-join, so checkpoint replays leave
    * the filter state exact) and the post-absorb saturation row
    * (the literal d22 aggregate) lands under the batch id — the
    * fill-share trend a deployment tails before calling
    * [[Dedup.refreezeBloomIfSaturated]]. Its own `foreachBatch`, not
    * [[BatchDirs.start]]: the pointer re-binds per trigger inside the
    * absorb's lease, and the write must stay inside it too. */
  def absorbStream(docStream: DataFrame, name: String, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docStream.writeStream
      .queryName(s"bloom_absorb_$name")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          // ONE lease hold across absorb → saturation read (round-17
          // review: read outside it and a concurrent writer's flip
          // makes batch N's "post-absorb" row reflect a different
          // generation; the nested absorb re-enters the hold)
          graft.sources.FreezeStore.withFamilyLease(batch.sparkSession, name) {
            Dedup.absorbBloomArrivals(batch.sparkSession, batch, name)
            BatchDirs.save(Dedup.bloomSaturationFrozen(batch.sparkSession, name),
              outDir, batchId)
          }
      }
      .start()
}
