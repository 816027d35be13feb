package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import FreezeStore.genTable

/** The FROZEN QUALITY-CLASSIFIER ARTIFACT — the learned gate's member
  * of the frozen-index lattice (dense ANN: [[AnnIndexStore]]; media:
  * [[MediaIndexStore]]; sparse text: [[Bm25IndexStore]]; graph:
  * [[GraphIndexStore]]), closing the lifecycle loop VERDICT r14 #3
  * asked for: t27 TRAINS in-engine → THIS STORE freezes the pocket
  * artifact → arrivals serve/score against the frozen generation →
  * t26's drift signals grade the arrivals → [[refreezeIfStale]]
  * RETRAINS on corpus ∪ arrivals and flips the pointer, exactly the
  * drift→refreeze loop the other four families already run.
  *
  * Components per generation:
  *  - `vocab` (term, tid) — the training vocabulary (the artifact's
  *    feature space), vocabulary-scaled, BUCKETED by term: serving
  *    joins arrival tokens against it, so score IO is
  *    arrival-token-scaled, never corpus-scaled.
  *  - `weights` (f, w) — the pocket epoch's 64 weights (control
  *    scale).
  *  - `stats` — ONE row: training error count, corpus doc count,
  *    exact corpus score mass and keep count under the artifact —
  *    the drift baseline [[staleness]] reads (a margin drift needs
  *    the corpus mean to compare against; storing the exact integer
  *    operands keeps the one float division at read time, the t26
  *    discipline).
  *
  * FROZEN-ARTIFACT SEMANTICS (the production classifier-serving
  * pattern): weights and vocabulary never move between freezes —
  * arrivals with unseen tokens lose exactly those features (the
  * hashing-trick convention t26 monitors as unseen_share), and a
  * re-freeze is a RETRAIN, not an increment: gradient state is not
  * mergeable the way edge weights are, so the loop's absorb step
  * re-runs the oracle-gated t27 training on corpus ∪ arrivals (ONE
  * definition: [[graft.operators.Quality.trainEpochsFrom]]).
  *
  * VERSIONED like every frozen artifact ([[FreezeStore]]): each
  * freeze commits by one atomic pointer flip under the family lease;
  * bound readers survive `retain` re-freezes.
  */
object ClassifierStore {

  /** TRAIN on the given (doc_id, text) corpus and freeze the pocket
    * artifact as the new live generation. Returns the committed
    * generation. The whole train → component writes → flip sequence
    * is one [[FreezeStore.commit]]. */
  def freeze(docs: DataFrame, name: String, buckets: Int = 8,
             retain: Int = 1): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    FreezeStore.commit(spark, name, retain) { gen =>
      val (v, w, nErr) = graft.operators.Quality.pocketArtifact(spark, docs)
      val wDf = w.toDF("f", "w")
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("batch", lit(0L)).withColumn("gen", lit(gen))
      Bucketing.writeBucketed(stamp(v.select(col("term"), col("tid"))),
        genTable(name, gen, "vocab"), "term", buckets)
      Bucketing.resetTable(spark, genTable(name, gen, "weights"))
      stamp(wDf).coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(genTable(name, gen, "weights"))
      // the drift baseline: corpus scored under the JUST-trained
      // artifact (exact integer operands; one corpus pass, the
      // vocab/feature frames are still OpCache-warm from training)
      val base = graft.operators.Quality.frozenScores(docs, v, wDf)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("n_keep"),
          coalesce(sum(col("score")), lit(0L)).as("sum_score"))
        .select(lit(nErr).as("train_err"), col("n_docs"), col("n_keep"),
          col("sum_score"))
      Bucketing.resetTable(spark, genTable(name, gen, "stats"))
      stamp(base).coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(genTable(name, gen, "stats"))
    }
  }

  /** SCORE a (doc_id, text) frame against the live artifact — the
    * serving read path: the literal
    * [[graft.operators.Quality.frozenScores]] algebra (x exactly as
    * trained, s = Σ x·w through the one pocketScores join) over the
    * persisted vocabulary + weights. The pointer resolves ONCE per
    * call (wholly-one-generation). */
  def scoreFrozen(spark: SparkSession, docs: DataFrame,
                  name: String): DataFrame = {
    val (gen, batches) = FreezeStore.live(spark, name)
    graft.operators.Quality.frozenScores(docs,
      FreezeStore.part(spark, name, gen, batches, "vocab"),
      FreezeStore.part(spark, name, gen, batches, "weights"))
  }

  /** CALIBRATE the live artifact's gate (the t24 role on the frozen
    * path): sweep the shared milli-threshold grid over the frozen
    * scores — per θ, exact keep count and kept-token mass under
    * `score ≥ θ·1000` (frozen scores are already per-10⁶-token
    * normalized, so milli-margin units scale by 10³; exact integer
    * compare, no float edge). The curve a deployment reads before
    * re-pinning the serving threshold after a refreeze. */
  def calibrateFrozen(spark: SparkSession, docs: DataFrame,
                      name: String): DataFrame = {
    import spark.implicits._
    val grid = graft.operators.Quality.GateThresholdGrid.toDF("theta_milli")
    scoreFrozen(spark, docs, name)
      .crossJoin(broadcast(grid))
      .withColumn("cls_keep", col("score") >= col("theta_milli") * 1000)
      .groupBy("theta_milli")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls_keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("cls_keep"), col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy("theta_milli")
  }

  /** STALENESS of the frozen artifact against an arriving (doc_id,
    * text) batch — t26's two signals served off the persisted
    * artifact: the unseen-token share (feature-coverage loss; tokens
    * the frozen vocabulary cannot see) and the mean per-doc score
    * drift vs the stored corpus baseline (a difference of two exact
    * integer divisions — the qa04 float discipline). One row. Cost:
    * arrival-token-scale ⋈ vocab — never a corpus pass. */
  def staleness(spark: SparkSession, arrivals: DataFrame,
                name: String): DataFrame = {
    val (gen, batches) = FreezeStore.live(spark, name)
    // ONE pass over the arrivals (round-15 review fix: the first cut
    // tokenized them three times for one monitor row): frozenScores
    // now emits a row for EVERY doc, so the doc count, the token
    // masses and the score mass all fall out of the scored frame —
    // n_docs_scored counts docs with ≥1 frozen-vocabulary token (the
    // feature-coverage view; a fully-novel doc serves as keep@0 but
    // carries no signal). The pointer resolves ONCE here and BOTH
    // generation components (vocab+weights for the scoring join, the
    // 1-row stats baseline) come off that generation — wholly one
    // generation even for a standalone monitor call.
    val scored = graft.operators.Quality.frozenScores(arrivals,
        FreezeStore.part(spark, name, gen, batches, "vocab"),
        FreezeStore.part(spark, name, gen, batches, "weights"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("n_tokens_seen") > 0, 1L)), lit(0L))
          .as("n_docs_scored"),
        coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("n_keep"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tok_arr"),
        coalesce(sum(col("n_tokens_seen")), lit(0L)).as("n_tok_seen"),
        coalesce(sum(col("score")), lit(0L)).as("sum_score"))
    // the 1-row stats baseline collected EAGERLY (ADVICE r17: the
    // lazy crossJoin(broadcast(stats)) executed per micro-batch under
    // the 24/7 drift stream could hit a dropped table — or mix
    // generations — across two quick refreezes with retain=1;
    // TokenizerStore.stalenessWithBase got this exact fix in r17).
    // The returned frame's corpus operands are literals: arrival-only
    // lineage, decoupled from later retain prunes.
    val b = FreezeStore.part(spark, name, gen, batches, "stats")
      .select(col("n_docs"), col("sum_score")).head()
    val (cDocs, cScore) = (b.getLong(0), b.getLong(1))
    scored
      .withColumn("c_docs", lit(cDocs))
      .withColumn("c_score", lit(cScore))
      .select(col("n_docs"), col("n_docs_scored"), col("n_keep"),
        col("n_tok_arr"), col("n_tok_seen"),
        when(col("n_tok_arr") > 0,
          (col("n_tok_arr") - col("n_tok_seen")).cast("double") /
            col("n_tok_arr")).as("unseen_share"),
        when(col("n_docs") > 0,
          col("sum_score").cast("double") / col("n_docs")).as("mean_score"),
        when(col("c_docs") > 0,
          col("c_score").cast("double") / col("c_docs")).as("corpus_score"),
        when(col("n_docs") > 0 && col("c_docs") > 0,
          col("sum_score").cast("double") / col("n_docs") -
            col("c_score").cast("double") / col("c_docs")).as("score_drift"))
  }

  /** CLOSE THE DRIFT→REFREEZE LOOP for the learned gate: when the
    * arrivals' unseen-token share exceeds `maxUnseenShare` (integer
    * basis points, cross-multiplied — no float edge; t26's "retrain
    * the vocabulary" signal), RETRAIN on corpus ∪ arrivals through
    * the one oracle-gated training definition and freeze the new
    * pocket artifact. Unlike the edge store's weighted merge,
    * classifier state is NOT mergeable — the absorb step is a full
    * retrain by design (the class doc's frozen-artifact semantics).
    * Arrival docs whose doc_id the corpus already carries are
    * dropped defensively (the Bm25IndexStore double-submission
    * guard). Returns the new generation when it fired. */
  def refreezeIfStale(spark: SparkSession, corpus: DataFrame,
                      arrivals: DataFrame, name: String,
                      maxUnseenShare: Double = 0.2, buckets: Int = 8,
                      retain: Int = 1): Option[Long] =
    // ONE lease hold across staleness read → retrain → freeze (the
    // r13 lost-update rule); the nested freeze re-enters the hold
    FreezeStore.withFamilyLease(spark, name) {
      val r = staleness(spark, arrivals, name).head()
      val nTok = r.getAs[Long]("n_tok_arr")
      val nSeen = r.getAs[Long]("n_tok_seen")
      val bp = math.round(maxUnseenShare * 10000)
      if (nTok == 0L || (nTok - nSeen) * 10000 <= bp * nTok) None
      else {
        val fresh = arrivals.select("doc_id", "text")
          .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
        Some(freeze(corpus.select("doc_id", "text").unionByName(fresh),
          name, buckets, retain))
      }
    }
}
