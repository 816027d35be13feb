package graft.streaming

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.Bm25IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of the FROZEN hybrid serving path (t22's
  * production shape made continuous): hybrid queries — each carrying
  * BM25 terms AND a dense query vector — arrive as a stream, and
  * every micro-batch searches BOTH shipped indexes
  * ([[Bm25IndexStore.searchFrozen]] over the doc-granular postings;
  * [[Similarity.searchFrozenForQueries]] over the IVFPQ tables) and
  * fuses through the ONE [[TextAnalysis.rrfFuse]] combiner — the
  * literal batch algebra HybridShipSpec pins against the storeless
  * live twin, so the stream cannot drift from the oracle-gated path.
  *
  * Per micro-batch through [[BatchDirs]] for the AnnStream reasons
  * (rank windows over self-derived joins don't plan in an
  * append-mode stream; state would fork the gated algebra): each
  * index's pointer resolves once per micro-batch, so every fused
  * result batch is wholly one generation per index.
  *
  * The arriving query TERMS are collected per batch (a bounded
  * control frame — queries are batch-sized by construction; the
  * Bm25Stream per-batch-query-set precedent) because the frozen text
  * search pushes `term IN (...)` into the bucketed posting scans —
  * the pushdown needs driver-known terms and is exactly what keeps
  * the text IO posting-list-scaled.
  *
  * Query row shape: (query_id, terms ARRAY<STRING>, vec_id, label,
  * embedding) — vec_id is the dense self-exclusion id (the batch
  * fixture passes query_id·20, the t22 rule). */
object HybridStream {

  def searchStream(queries: DataFrame, corpus: DataFrame,
      textName: String, annName: String,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(queries, s"hybrid_search_$textName", outDir,
        checkpoint, trigger) { batch =>
      val spark = batch.sparkSession
      // bounded control frames: the batch's query terms (for the
      // IN-pushdown) and the q_id → query_id map. query_id is
      // cast through LONG and range-checked (ADVICE r14 fixed the
      // opaque ClassCastException on LongType streams; ADVICE r15
      // fixed the fix — a bare cast("int") silently TRUNCATED ids
      // above Int.MaxValue into wrong query_ids in the fused
      // output; searchFrozen's control-frame key stays Int, so an
      // id outside Int range must fail loudly instead).
      val qt = batch.select(col("query_id").cast("long"), col("terms"))
        .collect().map { r =>
          val qid = r.getLong(0)
          require(qid >= Int.MinValue && qid <= Int.MaxValue,
            s"hybrid stream query_id $qid does not fit in Int — " +
              "searchFrozen keys queries by Int; re-key the stream")
          (qid.toInt, r.getSeq[String](1))
        }.toSeq
      val qmap = batch.select(col("query_id"), col("vec_id").as("q_id"))
      val bm25 = Bm25IndexStore.searchFrozen(spark, textName, qt)
        .select(col("query_id"), col("ck").as("doc_id"),
          col("rank").cast("long").as("rank_bm25"))
      val dense = Similarity.searchFrozenForQueries(
          batch.select("vec_id", "label", "embedding"), corpus, annName)
        .join(broadcast(qmap), "q_id")
        .select(col("query_id"), col("cand_id").as("doc_id"),
          col("rank").cast("long").as("rank_dense"))
      TextAnalysis.rrfFuse(bm25, dense, "rank_bm25", "rank_dense")
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("rank_bm25"), col("rank_dense"), col("rrf"))
    }
}
