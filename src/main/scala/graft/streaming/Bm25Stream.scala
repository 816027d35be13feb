package graft.streaming

import graft.sources.Bm25IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of the frozen text-index search — sparse
  * retrieval's production read path: query batches ARRIVE as
  * (query_id, term) rows and each micro-batch ranks against the
  * SHIPPED inverted index ([[graft.sources.Bm25IndexStore]]) without
  * touching corpus text. Per micro-batch through [[BatchDirs]] for
  * the [[AnnStream]] reason: the ranking's windows and aggregate
  * derive from the arriving rows, unsupported in one continuous
  * append plan. The per-batch `collect()` gathers only the QUERY
  * rows — bounded per trigger by construction (queries are the small
  * side of retrieval; the corpus never collects). */
object Bm25Stream {

  def searchStream(queryStream: DataFrame, name: String, outDir: String,
                   checkpoint: String, topK: Int = 10,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(queryStream, s"bm25_search_$name", outDir, checkpoint,
        trigger) { batch =>
      val qs = batch.select("query_id", "term").collect()
        .map(r => (r.getInt(0), r.getString(1)))
        .groupBy(_._1).map { case (q, ts) => (q, ts.map(_._2).toSeq) }
        .toSeq.sortBy(_._1)
      Bm25IndexStore.searchFrozen(batch.sparkSession, name, qs, topK)
    }

  /** Streaming twin of the vocabulary-drift monitor (t20's role run
    * continuously — the stream_band_drift sibling for sparse
    * retrieval): each arriving (doc_id, text) micro-batch chunks
    * statelessly through the ONE chunk definition
    * ([[graft.operators.Pipeline.chunkFrame]]) and grades against
    * the live frozen generation's vocabulary
    * ([[Bm25IndexStore.staleness]]; one generation per batch, the
    * [[BatchDirs]] rule). One drift row per micro-batch lands under
    * its batch id; a deployment tails the rows and calls
    * [[Bm25IndexStore.refreezeIfStale]] when unseen_share trips.
    * Cost per trigger: arrival-scaled tokenize ⋈ vocab. */
  def driftStream(docStream: DataFrame, name: String, outDir: String,
                  checkpoint: String, window: Long = 32L, stride: Long = 24L,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"bm25_drift_$name", outDir, checkpoint,
        trigger) { batch =>
      Bm25IndexStore.staleness(batch.sparkSession,
        graft.operators.Pipeline.chunkFrame(batch, window, stride), name)
    }
}
