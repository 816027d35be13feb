package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of the frozen IVFPQ search (VERDICT r9 #2 / r10 #1)
  * — the production read path the whole AnnIndexStore/FreezeStore
  * investment exists for: QUERIES arrive as a stream and each
  * micro-batch runs the LITERAL route→ADC→rerank algebra
  * ([[graft.operators.Similarity.ivfpqSearchQ]] — one shared
  * definition with batch s13/s15 and the frozen search, the
  * BloomStream/SpanStream shared-algebra rule) against the shipped
  * index.
  *
  * Why per-micro-batch (`foreachBatch`) and not one continuous
  * streaming plan: the search algebra is two rank windows (ADC top-20,
  * rerank top-5) over joins that all derive from the SAME arriving
  * query rows — non-time windows and self-derived multi-joins are
  * unsupported inside an append-mode streaming plan, and rebuilding
  * them as transformWithState would FORK the algebra the batch oracle
  * gates. `foreachBatch` hands each trigger's arrivals to the literal
  * batch definition instead — the stream-static joins (candidates
  * against the bucketed assign/codes tables, rerank against the
  * at-rest embeddings) run inside each batch with the corpus side
  * served off the frozen generation's bucketed layout, exchange-free
  * on the corpus side exactly like the batch plan (AnnShipSpec).
  *
  * The pointer binding, replay and empty-batch rules are
  * [[BatchDirs]]'s; AnnStreamSpec pins them across a mid-stream
  * re-freeze and a checkpoint restart.
  */
object AnnStream {

  /** Start the search stream: `queries` is a STREAMING frame of
    * (vec_id, label, embedding); `corpus` the static quantized
    * (vec_id, label, qv, nrm) frame backing the exact rerank (the
    * vectors-at-rest contract: the index never re-materializes
    * them). Results: the batch search's (q_id, rank, cand_id, cell,
    * adc, cos) rows under `outDir/batch=<id>/`. */
  def searchStream(queries: DataFrame, corpus: DataFrame, name: String,
      outDir: String, checkpoint: String,
      probeFine: Int = 2, labelFiltered: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(queries, s"ann_search_$name", outDir, checkpoint,
        trigger)(Similarity.searchFrozenForQueries(_, corpus, name,
      probeFine, labelFiltered))

  /** The at-rest corpus frame for [[searchStream]]'s rerank side —
    * the same quantized embeddings view every batch search reads. */
  def corpusFrame(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantized(spark, dir)

  /** Streaming hard-negative mining — s21's literal ranking algebra
    * over ARRIVING query vectors (vec_id, label, embedding) against
    * the at-rest corpus: the online half of contrastive curation
    * (new training examples mine their confusable negatives as they
    * land, instead of a nightly corpus pass). Per-micro-batch
    * `foreachBatch` for the same reason as [[searchStream]] — the
    * two rank windows over the self-derived scored frame cannot plan
    * inside an append-mode stream, and rebuilding them as state
    * would fork the algebra batch s21's oracle gates. */
  def mineStream(queries: DataFrame, corpus: DataFrame,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(queries, "ann_mine", outDir, checkpoint, trigger)(
      Similarity.minedForQueries(_, corpus))
}
