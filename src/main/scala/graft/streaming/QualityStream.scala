package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest QUALITY GATE — t14's keep/drop verdict as PURE
  * per-row array algebra, so the gate composes into any structured
  * stream with NO state, no watermark and no shuffle: it plans as a
  * stateless Project the micro-batch planner fuses into the source
  * scan, which is exactly what an ingest-time filter must be (state
  * here would couple the gate's latency to checkpointing).
  *
  * Batch t14 computes the bigram profile with two groupBys; per-row
  * the same numbers fall out of higher-order array functions: with
  * `bg` the in-order bigram array,
  * dup_inst = |bg| − #distinct bigrams occurring exactly once —
  * identical to t14's sum of multi-occurrence counts. The per-row
  * lambda cost is O(distinct·len) comparisons, the price of
  * statelessness. The RULE SET is literally shared
  * ([[graft.operators.Quality.verdictFrom]]), so the streamed gate
  * cannot drift from the oracle-checked batch rules;
  * QualityStreamSpec pins row-for-row equality with batch t14 and
  * runs the same expressions over a MemoryStream.
  */
object QualityStream {

  /** Running COUNT-MIN counters over an arriving (text) document
    * stream — the streaming twin of qa06's sketch build: one
    * Complete-mode groupBy whose state is PROVABLY bounded at
    * d×w = 4096 (j, c) rows by the sketch geometry, no watermark or
    * TTL needed (the stream_staleness class of safe unbounded-stream
    * aggregations). The cell projection is LITERALLY shared with the
    * oracle-gated batch sketch ([[graft.operators.Quality.cmsCells]]);
    * QualityStreamSpec pins two-checkpoint replay totals equal to
    * the batch counter table cell-for-cell. A deployment snapshots
    * the 4096-row table per trigger and merges snapshots across
    * streams/days by cell-wise addition — the mergeability that
    * makes the sketch the heavy-hitter tool at corpus scale. */
  def cmsCounters(docStream: DataFrame): DataFrame =
    graft.operators.Quality.cmsCells(
      docStream.select(
        explode(graft.functions.TextFns.tokens(col("text"))).as("term")))
      .groupBy("j", "c").agg(count(lit(1)).as("n"))

  /** Running HYPERLOGLOG registers over an arriving (text) document
    * stream — the streaming twin of qa07's sketch build: one
    * Complete-mode groupBy whose state is PROVABLY bounded at
    * m = 64 (bucket) rows by the sketch geometry, no watermark or
    * TTL needed (the stream_staleness/stream_cms class of safe
    * unbounded-stream aggregations). The (bucket, rk) cell
    * projection is LITERALLY shared with the oracle-gated batch
    * sketch ([[graft.operators.Quality.hllCells]]);
    * QualityStreamSpec pins two-checkpoint replay registers equal to
    * the batch table bucket-for-bucket. A deployment snapshots the
    * ≤ 64-row table per trigger and merges snapshots across
    * streams/days by element-wise MAX — the mergeability that makes
    * the sketch the cardinality tool at corpus scale. */
  def hllRegisters(docStream: DataFrame): DataFrame =
    graft.operators.Quality.hllCells(
      docStream.select(
        explode(graft.functions.TextFns.tokens(col("text"))).as("term")))
      .groupBy("bucket").agg(max(col("rk")).as("max_rank"))

  /** Per-document token-diversity Gini profile as PURE per-row array
    * algebra — the stateless streaming twin of batch t17 (which uses
    * two groupBys): within one row, the per-distinct-token counts
    * fall out of `transform(array_distinct(t), d -> count of d in
    * t)`, and Gini/top-share are the same exact rational formulas.
    * O(distinct·len) comparisons per row — the statelessness price,
    * same class as [[qualityVerdicts]]. QualityStreamSpec pins
    * row-for-row equality with oracle-gated batch t17, so an
    * ingest-time diversity gate cannot drift from the batch score. */
  def giniProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("t"))
      .withColumn("counts",
        transform(array_distinct(col("t")),
          d => size(filter(col("t"), x => x === d)).cast("long")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("counts")).cast("long").as("n_types"),
        aggregate(col("counts"), lit(0L), (a, c) => a + c * c).as("sum_sq"),
        array_max(col("counts")).as("max_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("sum_sq"),
        ((col("n_tokens") * col("n_tokens") - col("sum_sq")).cast("double") /
          (col("n_tokens") * col("n_tokens"))).as("gini"),
        (col("max_c").cast("double") / col("n_tokens")).as("top_share"))

  /** Streaming context-window chunking — p19's literal core over an
    * arriving (doc_id, text) stream: a stateless per-row explode, so
    * it runs in append mode with no watermark and no state store,
    * and per-micro-batch rows equal the batch key's by shared
    * definition (QualityStreamSpec pins the replay). The chunker is
    * the first thing an ingest pipeline runs on arriving documents —
    * the natural streaming placement. */
  def chunkWindows(docs: DataFrame, window: Long = 32L,
                   stride: Long = 24L): DataFrame =
    graft.operators.Pipeline.chunkCore(docs, window, stride)

  /** STREAMING twin of the t23 model-based quality classifier: score
    * arriving documents against a FROZEN vocabulary+weight artifact
    * — the serving shape of a learned curation gate (weights/vocab
    * are frozen at train time; arrivals only read them), per
    * micro-batch through [[BatchDirs]]: the scoring core is LITERALLY
    * [[graft.operators.Quality.classifierScores]], so the streamed
    * gate cannot drift from the oracle-gated batch key. The frozen
    * vocab binds once at stream start — correct here, because the
    * classifier's feature space IS the frozen artifact (unseen
    * arrival terms drop out of the vocab join by design: an unseen
    * token has no learned weight, the standard hashing-trick serving
    * convention under a frozen vocabulary). */
  def classifierStream(docStream: DataFrame, vocab: DataFrame,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, "quality_classifier", outDir, checkpoint,
        trigger) { batch =>
      graft.operators.Quality.classifierScores(
        batch.select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term")),
        vocab)
    }

  /** STREAMING twin of the STORE-BACKED classifier serving path
    * (round 15 — [[classifierStream]] serves the fixed generated
    * weights; this serves the TRAINED pocket artifact a
    * [[graft.sources.ClassifierStore.freeze]] shipped): arriving
    * documents score per micro-batch through
    * [[graft.sources.ClassifierStore.scoreFrozen]] — the literal
    * training evaluation rule over the persisted vocab+weights. A
    * mid-stream [[graft.sources.ClassifierStore.refreezeIfStale]]
    * lands between batches ([[BatchDirs]]). */
  def frozenClassifierStream(docStream: DataFrame, name: String,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"frozen_classifier_$name", outDir,
        checkpoint, trigger) { batch =>
      graft.sources.ClassifierStore.scoreFrozen(batch.sparkSession, batch, name)
    }

  /** STREAMING twin of the STORE-BACKED tokenizer serving path
    * (round 16 — the tokenizer family's member of the
    * [[frozenClassifierStream]] lattice): arriving documents
    * tokenize per micro-batch through
    * [[graft.sources.TokenizerStore.tokenCountsFrozen]] — the
    * literal t31 fold over the persisted merge table. A mid-stream
    * [[graft.sources.TokenizerStore.refreezeIfStale]] lands between
    * batches ([[BatchDirs]]). */
  def frozenTokenizerStream(docStream: DataFrame, name: String,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"frozen_tokenizer_$name", outDir,
        checkpoint, trigger) { batch =>
      graft.sources.TokenizerStore
        .tokenCountsFrozen(batch.sparkSession, batch, name)
    }

  /** CONTINUOUS drift monitor for the frozen CLASSIFIER artifact —
    * the last monitor-lattice asymmetry closed (VERDICT r16: media,
    * sparse-text and graph stream their staleness per micro-batch,
    * but the classifier's retrain signal was batch-call-only while
    * [[frozenClassifierStream]] served 24/7). Each arriving
    * (doc_id, text) micro-batch grades against the live frozen
    * generation through the ONE staleness definition
    * ([[graft.sources.ClassifierStore.staleness]] — unseen-token
    * share + mean-score drift vs the stored baseline), so the report
    * always reads the CURRENT freeze ([[BatchDirs]]). One drift row
    * per micro-batch lands under its batch id; a deployment tails the
    * rows and refreezes when unseen_share trips. Cost per trigger:
    * arrival-token-scale ⋈ vocab — never a corpus pass (the
    * Bm25Stream.driftStream decision record verbatim). */
  def classifierDriftStream(docStream: DataFrame, name: String,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"classifier_drift_$name", outDir,
        checkpoint, trigger) { batch =>
      graft.sources.ClassifierStore.staleness(batch.sparkSession, batch, name)
    }

  /** CONTINUOUS drift monitor for the frozen TOKENIZER artifact —
    * [[classifierDriftStream]]'s sibling for the merge table: each
    * arriving (doc_id, text) micro-batch grades its compression
    * under the frozen rules against the stored training baseline
    * through the ONE staleness definition
    * ([[graft.sources.TokenizerStore.staleness]] — the literal t32
    * mass aggregate, both bounded components collected eagerly so
    * the row is arrival-only lineage), one generation per batch
    * ([[BatchDirs]]). Cost per trigger: ONE arrival-scaled aggregate
    * — the fold is per-row Column algebra, never a corpus pass. */
  def tokenizerDriftStream(docStream: DataFrame, name: String,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(docStream, s"tokenizer_drift_$name", outDir,
        checkpoint, trigger) { batch =>
      graft.sources.TokenizerStore.staleness(batch.sparkSession, batch, name)
    }

  /** Per-document verdicts over any (doc_id, text) frame — batch or
    * streaming (the plan is stateless either way). */
  def qualityVerdicts(docs: DataFrame): DataFrame = {
    val stopArr = array(graft.operators.TextAnalysis.Stopwords.map(lit): _*)
    val metrics = docs
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("t"))
      .withColumn("nt", size(col("t")).cast("long"))
      .withColumn("nd", size(array_distinct(col("t"))).cast("long"))
      .withColumn("nstop",
        size(filter(col("t"), x => array_contains(stopArr, x))).cast("long"))
      .withColumn("bg",
        when(col("nt") >= 2, transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
          .otherwise(array().cast("array<string>")))
      .withColumn("n_bigrams", size(col("bg")).cast("long"))
      .withColumn("singles",
        size(filter(array_distinct(col("bg")),
          d => size(filter(col("bg"), x => x === d)) === 1)).cast("long"))
      .withColumn("dup_inst", col("n_bigrams") - col("singles"))
    graft.operators.Quality.verdictFrom(metrics)
  }
}
