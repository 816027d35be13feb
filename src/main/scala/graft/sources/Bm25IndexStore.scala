package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import FreezeStore.genTable

/** The FROZEN INVERTED TEXT INDEX — sparse retrieval's member of the
  * frozen-index lattice (dense ANN: [[AnnIndexStore]]; perceptual
  * media: [[MediaIndexStore]]; exact membership: the shipped Bloom
  * screen). Ships the chunk-granular BM25 state p21 computes live —
  * postings, chunk lengths, document frequencies, corpus stats — so
  * query batches rank against 100 TB of text WITHOUT re-tokenizing
  * any of it: the tokenize+tf pass is one corpus pass per freeze;
  * the search path reads posting lists for the query's terms only.
  *
  * Components per generation:
  *  - `postings` (term, ck, tf) — corpus-scale, BUCKETED+sorted by
  *    term: the search pre-filters `term IN (query terms)` with the
  *    query set known at plan time, so parquet row-group pruning on
  *    the SORTED term column makes search IO posting-list-scaled,
  *    never corpus-scaled (the inverted-index property, expressed in
  *    lakehouse primitives).
  *  - `lens` (ck, dl) — chunk-count-scale (16 bytes/chunk).
  *  - `dfreq` (term, df) — vocab-scale, bucketed by term.
  *  - `stats` — ONE row (n_chunks_tot, sum_dl).
  *
  * FROZEN-IDF SEMANTICS (the real-world search-engine pattern —
  * scores use an IDF snapshot refreshed periodically, not per
  * insert): [[append]] lands new chunks' postings and lengths (they
  * become SEARCHABLE for terms the freeze knows), but `dfreq` and
  * `stats` stay frozen — re-deriving them per append would be the
  * corpus pass this store exists to avoid, and a moving IDF would
  * re-score already-ranked results (the MediaIndexStore cap-caveat
  * discipline: nothing about the scoring frame shifts between
  * freezes). Two documented consequences, both measured by
  * [[staleness]] (the qa04/mm12 WHEN-to-refreeze role):
  *  - a term absent from the frozen vocabulary has no df — chunks
  *    carrying ONLY unseen terms cannot be retrieved until the next
  *    freeze (the media band-miss analog);
  *  - appended chunks score with freeze-time idf/avgdl (slightly
  *    stale weights, exact same algebra).
  *
  * VERSIONED like every frozen artifact ([[FreezeStore]]): each
  * freeze is a new generation committed by one atomic pointer flip
  * (+ cross-process lease); appends are reserve-then-commit batches
  * invisible until the pointer grows; bound readers survive
  * `retain` re-freezes.
  */
object Bm25IndexStore {

  /** Freeze the chunk-granular text index over a (ck, n_tok, t)
    * chunk frame ([[graft.operators.Pipeline.chunkFrame]] — the ONE
    * chunk identity/tokenization definition). Returns the committed
    * generation. One corpus pass, GENUINELY (ADVICE r12 — the claim
    * used to be aspirational: postings, dfreq, lens and stats each
    * re-evaluated the uncached chunk frame, re-tokenizing the corpus
    * ~4×): the tf posting frame is OpCache'd, so the tokenize +
    * explode + groupBy cascade runs once and dfreq / lens / stats all
    * re-aggregate the cached postings — lens as Σtf per chunk, which
    * is EXACTLY the live ranking core's dl definition
    * ([[graft.operators.Pipeline.chunkBm25Ranked]] derives dl the
    * same way, so frozen==live stays structural, TextIndexSpec). */
  def freeze(chunks: DataFrame, name: String, buckets: Int = 8,
             retain: Int = 1): Long = {
    val spark = chunks.sparkSession
    FreezeStore.commit(spark, name, retain) { gen =>
      val tok = chunks.select(col("ck"), explode(col("t")).as("term"))
      val tf = graft.operators.OpCache.cached(
        tok.groupBy("ck", "term").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("ck").agg(sum(col("tf")).as("dl"))
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("batch", lit(0L)).withColumn("gen", lit(gen))
      Bucketing.writeBucketed(
        stamp(tf.select(col("term"), col("ck"), col("tf"))),
        genTable(name, gen, "postings"), "term", buckets)
      Bucketing.writeBucketed(
        stamp(tf.groupBy("term").agg(count(lit(1)).as("df"))),
        genTable(name, gen, "dfreq"), "term", buckets)
      Bucketing.resetTable(spark, genTable(name, gen, "lens"))
      stamp(dl.select(col("ck"), col("dl")))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(genTable(name, gen, "lens"))
      Bucketing.resetTable(spark, genTable(name, gen, "stats"))
      stamp(dl.agg(count(lit(1)).as("n_chunks_tot"),
          sum(col("dl")).as("sum_dl")))
        .coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(genTable(name, gen, "stats"))
    }
  }

  /** SEARCH the frozen index: top-`topK` chunks per query by the
    * t18-gated Okapi algebra ([[graft.operators.Pipeline.bm25Micro]]
    * — the literal live scoring expression over the persisted
    * columns). Rows equal the live
    * [[graft.operators.Pipeline.chunkBm25Ranked]] over the same
    * corpus when no appends landed (TextIndexSpec pins it).
    *
    * The pointer resolves ONCE per call (wholly-one-generation); the
    * query terms are driver-known, so `term IN (...)` is PUSHED into
    * both bucketed scans — postings IO is posting-list-scaled. */
  def searchFrozen(spark: SparkSession, name: String,
                   queries: Seq[(Int, Seq[String])], topK: Int = 10): DataFrame = {
    import spark.implicits._
    val (gen, batches) = FreezeStore.live(spark, name)
    val terms = queries.flatMap(_._2).distinct
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // dfreq/stats come from batch 0 ALONE by construction (frozen at
    // freeze time — appends never write them); the filter keeps the
    // read honest if tooling ever lands rows there
    graft.operators.Pipeline.bm25Rank(
      FreezeStore.part(spark, name, gen, batches, "postings")
        .filter(col("term").isin(terms: _*)),
      FreezeStore.part(spark, name, gen, batches, "lens").select(col("ck"), col("dl")),
      FreezeStore.part(spark, name, gen, batches, "dfreq")
        .filter(col("term").isin(terms: _*)),
      FreezeStore.part(spark, name, gen, batches, "stats")
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_chunks_tot"))
        .select("n_chunks_tot", "avgdl"),
      q, topK)
  }

  /** APPEND arriving chunks (the absorb step): postings and lengths
    * land batch-stamped through the reserve-then-commit protocol
    * (the [[AnnIndexStore.append]] concurrency contract — atomic
    * reserve, re-read-merge commit, loud on a mid-append re-freeze).
    * `dfreq`/`stats` stay FROZEN — see the class doc's frozen-IDF
    * semantics; [[staleness]] measures the resulting drift and
    * [[refreezeIfStale]] closes the loop. O(arrival chunks); never a
    * corpus pass. */
  def append(chunks: DataFrame, name: String): Unit = {
    val spark = chunks.sparkSession
    // the ONE reserve-then-commit protocol (FreezeStore.appendBatch);
    // this store's part: posting + length landings, postings keeping
    // the term bucket/sort layout
    FreezeStore.appendBatch(spark, name) { (gen, batch) =>
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("batch", lit(batch)).withColumn("gen", lit(gen))
      val tok = chunks.select(col("ck"), explode(col("t")).as("term"))
      val tf = tok.groupBy("ck", "term").agg(count(lit(1)).as("tf"))
      val pt = genTable(name, gen, "postings")
      stamp(tf.select(col("term"), col("ck"), col("tf")))
        .write.mode("append").format("parquet")
        .bucketBy(FreezeStore.bucketsOf(spark, pt), "term").sortBy("term")
        .saveAsTable(pt)
      stamp(chunks.select(col("ck"), col("n_tok").as("dl")))
        .write.mode("append").format("parquet")
        .saveAsTable(genTable(name, gen, "lens"))
    }
  }

  /** STALENESS of the frozen vocabulary against an arriving chunk
    * batch — the WHEN-to-refreeze monitor (qa04/mm12's role for
    * sparse retrieval). One row: total arrival posting rows, how
    * many carry terms UNSEEN in the frozen dfreq (those can never be
    * retrieved by their unseen terms until a re-freeze), the unseen
    * share, and the arrivals' length drift vs the frozen avgdl (the
    * idf/avgdl-staleness proxy). All counts exact; shares are one
    * division each. Cost: arrival-token-scale ⋈ vocab — never a
    * corpus pass. */
  def staleness(spark: SparkSession, arrivals: DataFrame,
                name: String): DataFrame = {
    val (gen, batches) = FreezeStore.live(spark, name)
    // the LITERAL t20 drift algebra (Pipeline.vocabDriftRow — one
    // definition, TextIndexSpec pins the equality) over the
    // persisted vocabulary and frozen stats
    graft.operators.Pipeline.vocabDriftRow(arrivals,
      FreezeStore.part(spark, name, gen, batches, "dfreq").select("term"),
      FreezeStore.part(spark, name, gen, batches, "stats")
        .select((col("sum_dl").cast("double") / col("n_chunks_tot"))
          .as("frozen_avgdl")))
  }

  /** CLOSE THE DRIFT→REFREEZE LOOP for sparse retrieval (the
    * [[MediaIndexStore.refreezeIfStale]] /
    * [[graft.operators.Similarity.refreezeIfStale]] sibling): when
    * the arrivals' unseen-term share exceeds `maxUnseenShare`
    * (integer basis points, cross-multiplied — no float edge),
    * re-freeze over the live generation's committed chunks ∪ the
    * arrivals, re-deriving df/stats over the merged corpus. The
    * chunk frame is reconstructed from the PERSISTED postings/lens
    * (tf rows re-explode to token multiset — tokenize never reruns).
    * Returns the new generation when it fired.
    *
    * CALLER CONTRACT (ADVICE r12, matching the
    * [[graft.operators.Similarity.refreezeIfStale]] sibling):
    * `arrivals` are chunks NOT yet absorbed into the family — but
    * the natural monitor flow (append known-vocab chunks, then check
    * staleness with the same batch) makes double-submission easy, so
    * the union below DEFENSIVELY drops arrival chunks whose ck the
    * reconstructed corpus already carries (one arrival-scaled
    * left_anti) instead of freezing them twice under identical ck
    * (doubled tf, duplicate lens rows fanning out the dl join,
    * skewed stats). */
  def refreezeIfStale(spark: SparkSession, arrivals: DataFrame, name: String,
                      maxUnseenShare: Double = 0.2, buckets: Int = 8,
                      retain: Int = 1): Option[Long] =
    // ONE lease hold across staleness read → corpus rebuild → freeze
    // (ADVICE r13: the pointer read binding (gen, batches) outside
    // the lease let a committed append landing before the flip be
    // silently dropped from the new generation)
    FreezeStore.withFamilyLease(spark, name) {
    val r = staleness(spark, arrivals, name).head()
    val nPost = r.getAs[Long]("n_postings")
    val nUnseen = if (r.isNullAt(r.fieldIndex("n_unseen"))) 0L
      else r.getAs[Long]("n_unseen")
    val bp = math.round(maxUnseenShare * 10000)
    if (nPost == 0L || nUnseen * 10000 <= bp * nPost) None
    else {
      val (gen, batches) = FreezeStore.live(spark, name)
      // rebuild (ck, n_tok, t) from the persisted inverted form:
      // each (term, tf) posting contributes tf copies of the term —
      // token ORDER is lost, which BM25 never reads (bag-of-words)
      val corpus = FreezeStore.part(spark, name, gen, batches, "postings")
        .select(col("ck"),
          explode(expr("array_repeat(term, cast(tf as int))")).as("term"))
        .groupBy("ck").agg(collect_list(col("term")).as("t"))
        .join(FreezeStore.part(spark, name, gen, batches, "lens")
          .select(col("ck"), col("dl").as("n_tok")), "ck")
        .select("ck", "n_tok", "t")
      // drop already-absorbed arrivals (the caller-contract guard)
      val fresh = arrivals.select("ck", "n_tok", "t")
        .join(corpus.select("ck"), Seq("ck"), "left_anti")
      Some(freeze(corpus.unionByName(fresh), name, buckets, retain))
    }
  }

  /** COMPACT the live generation after a run of appends (the
    * [[AnnIndexStore.compact]] sibling): each append lands one file
    * set per batch — postings lose their single-sorted-file-per-
    * bucket property (Spark trusts sortBy metadata only then, so the
    * term row-group pruning weakens) and lens accumulates small
    * files. One crash-safe rewrite per table
    * ([[FreezeStore.compactTable]] — rename-chain swap, self-healing)
    * restores one sorted file per postings bucket and a bounded lens
    * file count, folding away any orphaned uncommitted batch a
    * crashed append left. QUIESCED-WRITER operation, LEASE-ENFORCED
    * (VERDICT r12 #4): the whole window holds the family lease, so a
    * concurrent append blocks at its reserve or fails loudly (see
    * [[FreezeStore.compactTable]]). dfreq/stats never grow (frozen
    * at freeze) — not rewritten. */
  def compact(spark: SparkSession, name: String,
              vacuumOrphans: Boolean = false): Unit =
    FreezeStore.withFamilyLease(spark, name) {
      val (gen, batches) = FreezeStore.compactGate(spark, name, vacuumOrphans)
      val pt = genTable(name, gen, "postings")
      FreezeStore.recoverTable(spark, pt)
      val buckets = FreezeStore.bucketsOf(spark, pt)
      FreezeStore.compactTable(spark, pt, batches, (df, staging) =>
        FreezeStore.withForcedBucketedScan(spark) {
          df.write.mode("overwrite").format("parquet")
            .bucketBy(buckets, "term").sortBy("term")
            .saveAsTable(staging)
        })
      FreezeStore.compactTable(spark, genTable(name, gen, "lens"), batches,
        (df, staging) => df.repartition(buckets)
          .write.mode("overwrite").format("parquet").saveAsTable(staging))
    }
}
