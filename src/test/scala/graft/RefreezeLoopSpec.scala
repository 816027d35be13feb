package graft

import graft.operators.Multimodal
import graft.sources.{FreezeStore, MediaIndexStore}
import org.apache.spark.sql.functions._

/** The automated drift→refreeze loop (VERDICT r11 #5): mm12 is the
  * monitor, `retain` the reader-survival knob — this spec proves the
  * WIRING between them works end-to-end: in-distribution arrivals do
  * NOT trip a refreeze, novel-content arrivals DO, the absorbed
  * arrivals answer as corpus afterwards, and a reader whose plan was
  * bound BEFORE the automated flip keeps answering (retention held
  * its generation) while new readers see wholly-new results. */
class RefreezeLoopSpec extends SparkSpec {

  /** Synthetic hash corpus: 64 docs with structured band values so
    * hit/miss is fully controlled. */
  private def corpus = spark.createDataFrame(
    (0L until 64L).map(i => (i, 0x1000100010001000L + i, 0x2000200020002000L + i)))
    .toDF("doc_id", "h_hi", "h_lo")

  /** Arrivals whose band values all exist in the corpus (exact hash
    * copies under new ids) — hit_share 1.0. */
  private def familiarArrivals = corpus
    .select((col("doc_id") + 1000L).as("doc_id"), col("h_hi"), col("h_lo"))

  /** Arrivals with band values the corpus has never seen —
    * hit_share 0.0. */
  private def novelArrivals = spark.createDataFrame(
    (0L until 32L).map(i => (2000L + i, 0x7abc000012340000L + (i << 16), 0x6def000056780000L + (i << 16))))
    .toDF("doc_id", "h_hi", "h_lo")

  test("in-distribution arrivals do not trip the refreeze") {
    val name = "refreeze_loop1"
    FreezeStore.dropAll(spark, name)
    try {
      MediaIndexStore.freeze(corpus, name)
      assert(MediaIndexStore.refreezeIfStale(spark, familiarArrivals, name,
        minHitShare = 0.5).isEmpty, "hit_share 1.0 must not refreeze")
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))
      // empty arrival batches are a no-op, not a divide-by-zero
      assert(MediaIndexStore.refreezeIfStale(spark,
        novelArrivals.filter(lit(false)), name).isEmpty)
    } finally FreezeStore.dropAll(spark, name)
  }

  test("drift → refreeze → absorbed arrivals answer as corpus") {
    val name = "refreeze_loop2"
    FreezeStore.dropAll(spark, name)
    try {
      MediaIndexStore.freeze(corpus, name)
      // novel content: no band value matches ⟹ hit_share 0 < 0.5
      val fired = MediaIndexStore.refreezeIfStale(spark, novelArrivals, name,
        minHitShare = 0.5)
      assert(fired.contains(2L), s"novel arrivals must trigger gen 2, got $fired")
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(2L))
      // the refreeze absorbed the arrivals: an exact copy of a novel
      // arrival hash now matches it as corpus (hamming 0)
      val probe = novelArrivals.limit(4)
        .select((col("doc_id") + 7000L).as("doc_id"), col("h_hi"), col("h_lo"))
      val hits = MediaIndexStore.matchFrozen(spark, probe, name)
        .select("match_id").collect().map(_.getLong(0)).toSet
      assert(hits.nonEmpty && hits.forall(id => id >= 2000L && id < 2032L),
        s"absorbed arrivals must be matchable corpus now: $hits")
      // and the merged population no longer reads as stale
      assert(MediaIndexStore.refreezeIfStale(spark, novelArrivals, name,
        minHitShare = 0.5).isEmpty, "post-refreeze the same content is covered")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("ANN loop: frozen-centroid drift trips a refreeze; in-distribution does not") {
    // the PropertySpec qa04 fixture: corpus clustered on 4 base
    // directions + per-id jitter; control arrivals follow the same
    // rule (good fit against the FROZEN fine centroids), drifted
    // arrivals all point at dim 63 — a direction no frozen centroid
    // occupies (fit collapses)
    def vec(dir: Int, jitter: Int): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      a(dir) = 1.0f
      a(32 + jitter % 16) = 0.2f
      a.toSeq
    }
    def frame(ids: Seq[Long], drifted: Boolean) = {
      spark.createDataFrame(ids.map { i =>
        val (dir, jit) =
          if (drifted) (63, 0) else (((i / 4) % 4).toInt * 8, i.toInt)
        (i, "x", vec(dir, jit))
      }).toDF("vec_id", "label", "embedding")
    }
    val name = "refreeze_ann1"
    val corpus = frame(0L until 160L, drifted = false)
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      // freeze gen 1 over the corpus (through the same quantize path
      // refreezeIfStale uses)
      val q = corpus.select(col("vec_id"), col("label"),
          graft.functions.TextFns.quantize(col("embedding")).as("qv"))
        .withColumn("nrm", graft.functions.TextFns.qnorm2(col("qv")))
      graft.operators.Similarity.shipIvfpqIndexFrom(q, name, buckets = 4)
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // in-distribution arrivals: fit matches the corpus's → no trip
      assert(graft.operators.Similarity.refreezeIfStale(
        corpus, frame(1000L until 1040L, drifted = false), name).isEmpty,
        "control arrivals must not refreeze")
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // bind a reader to generation 1 and evaluate it once
      val bound = graft.sources.AnnIndexStore.load(spark, name).assign
      val before = bound.count()
      assert(before == 160L)

      // drifted arrivals: fit collapses → the loop fires
      val fired = graft.operators.Similarity.refreezeIfStale(
        corpus, frame(2000L until 2040L, drifted = true), name)
      assert(fired.contains(2L), s"drifted arrivals must trigger gen 2, got $fired")

      // the generation-1-bound reader answers through the flip …
      assert(bound.count() == before,
        "a gen-1-bound reader must survive the automated refreeze")
      // … and the new generation absorbed the arrivals, consistently
      val (na, nc, ok) = graft.sources.AnnIndexStore.verifyConsistency(spark, name)
      assert(na == 200L && ok, s"gen 2 must hold corpus ∪ arrivals consistently ($na, $nc, $ok)")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("both loops are reachable through the api facade") {
    val g = new graft.api.Graft(spark, sf)
    val name = "refreeze_api1"
    FreezeStore.dropAll(spark, name)
    try {
      MediaIndexStore.freeze(corpus, name)
      assert(g.refreezeMediaIfStale(familiarArrivals, name).isEmpty)
      assert(g.refreezeMediaIfStale(novelArrivals, name).contains(2L))
    } finally FreezeStore.dropAll(spark, name)
  }

  // ---- classifier leg (round 15, VERDICT r14 #3): t27 trains, the
  // store freezes, arrivals grade, the loop retrains on drift ----

  /** Stop-dense "prose" and stopword-free "junk" docs — the t27
    * stop-density target is decidable on both halves. */
  private def classifierCorpus = {
    import spark.implicits._
    val prose = (0 until 16).map(i =>
      (i.toLong, s"the cat$i is in the hat and the dog is of a house to the tree$i"))
    val junk = (0 until 16).map(i =>
      (100L + i, s"zx$i qy kv wm gr pl nt br xz$i vv ww kk"))
    (prose ++ junk).toDF("doc_id", "text")
  }

  /** t26's reverse regime: the same docs text-reversed under fresh
    * ids — almost every token unseen by the trained vocabulary. */
  private def reversedArrivals = classifierCorpus
    .select((col("doc_id") + 2000L).as("doc_id"), reverse(col("text")).as("text"))

  test("classifier freeze serves exactly the trained pocket decision rule") {
    val name = "refreeze_cls1"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = classifierCorpus
      graft.sources.ClassifierStore.freeze(docs, name)
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(1L))
      // re-derive the pocket artifact (deterministic) and sign-check
      val (v, w, _) = graft.operators.Quality.pocketArtifact(spark, docs)
      import spark.implicits._
      val expected = graft.operators.Quality
        .frozenScores(docs, v, w.toDF("f", "w"))
        .select("doc_id", "score", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val served = graft.sources.ClassifierStore.scoreFrozen(spark, docs, name)
        .select("doc_id", "score", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(served == expected)
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("classifier loop: familiar arrivals no-op; drifted arrivals retrain and re-pin") {
    val name = "refreeze_cls2"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = classifierCorpus
      graft.sources.ClassifierStore.freeze(docs, name)
      // re-uploads of known text: unseen share 0 — never a retrain
      val familiar = docs.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      assert(graft.sources.ClassifierStore.refreezeIfStale(
        spark, docs, familiar, name).isEmpty)
      // empty arrival batches are a no-op, not a divide-by-zero
      assert(graft.sources.ClassifierStore.refreezeIfStale(
        spark, docs, familiar.filter(lit(false)), name).isEmpty)
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // gen-1 artifact is feature-blind to the reversed arrivals
      val before = graft.sources.ClassifierStore
        .scoreFrozen(spark, reversedArrivals, name)
        .agg(coalesce(sum(col("n_tokens_seen")), lit(0L))).collect()(0).getLong(0)
      val stale = graft.sources.ClassifierStore
        .staleness(spark, reversedArrivals, name).collect()(0)
      assert(stale.getAs[Double]("unseen_share") > 0.5,
        s"reverse regime must read mostly-unseen, got $stale")

      // the loop fires: retrain on corpus ∪ arrivals, pointer flips
      val fired = graft.sources.ClassifierStore.refreezeIfStale(
        spark, docs, reversedArrivals, name)
      assert(fired.contains(2L), s"drifted arrivals must trigger gen 2, got $fired")
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(2L))

      // the refrozen gate SEES the drifted content now: every arrival
      // token is in the retrained vocabulary, and the scores moved
      val afterRows = graft.sources.ClassifierStore
        .scoreFrozen(spark, reversedArrivals, name)
        .select("n_tokens", "n_tokens_seen").collect()
      assert(afterRows.nonEmpty &&
        afterRows.forall(r => r.getLong(0) == r.getLong(1)),
        "post-retrain, the arrival vocabulary must be fully covered")
      val after = afterRows.map(_.getLong(1)).sum
      assert(after > before, "refrozen scores must move off the blind baseline")
      // absorbed arrivals no longer read as stale
      assert(graft.sources.ClassifierStore.refreezeIfStale(
        spark, docs, reversedArrivals, name).isEmpty)
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("classifier calibration curve is monotone and anchored at the serving gate") {
    val name = "refreeze_cls3"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = classifierCorpus
      graft.sources.ClassifierStore.freeze(docs, name)
      val curve = graft.sources.ClassifierStore
        .calibrateFrozen(spark, docs, name).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      // keep mass never grows as the threshold rises
      assert(curve.zip(curve.tail).forall { case ((_, a, ta), (_, b, tb)) =>
        b <= a && tb <= ta })
      val keepAtZero = curve.find(_._1 == 0L).get._2
      val servedKeep = graft.sources.ClassifierStore
        .scoreFrozen(spark, docs, name).filter(col("keep")).count()
      assert(keepAtZero == servedKeep,
        "the theta=0 operating point IS the serving gate")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("the classifier loop is reachable through the api facade") {
    val g = new graft.api.Graft(spark, sf)
    val name = "refreeze_cls_api"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = classifierCorpus
      assert(g.freezeClassifier(docs, name) == 1L)
      assert(g.scoreClassifierFrozen(docs, name).count() == docs.count())
      assert(g.calibrateClassifierFrozen(docs, name).count() ==
        graft.operators.Quality.GateThresholdGrid.size)
      val familiar = docs.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      assert(g.refreezeClassifierIfStale(docs, familiar, name).isEmpty)
      assert(g.refreezeClassifierIfStale(docs, reversedArrivals, name)
        .contains(2L))
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  // ---- tokenizer leg (round 16, VERDICT r15 #1): t28 trains, the
  // store freezes, arrivals grade by compression, the loop retrains ----

  /** Merge-dense prose: repeated bigrams everywhere, so 12 learned
    * merges compress it well below ratio 1. */
  private def tokenizerCorpus = {
    import spark.implicits._
    (0 until 16).map(i =>
      (i.toLong,
        s"the then they them there these that than the the doc$i"))
      .toDF("doc_id", "text")
  }

  /** Arrivals whose pair distribution the frozen rules never saw:
    * every word is two characters drawn from an alphabet (mostly)
    * disjoint from the corpus's — the frozen merges fire (almost)
    * never, so the arrival compression ratio sits near 1. Only SIX
    * distinct pairs, each repeated, so a retrain on corpus ∪
    * arrivals provably absorbs all of them into its top-12 table
    * (each at freq 48, above every corpus pair except the first two
    * chain merges) and the absorbed regime compresses again. */
  private def junkArrivals = {
    import spark.implicits._
    (0 until 16).map(i =>
      (3000L + i, s"qz wx kv pj gq fb qz wx kv pj gq fb qz wx kv pj gq fb u$i"))
      .toDF("doc_id", "text")
  }

  test("tokenizer freeze serves exactly the trained merge fold") {
    val name = "refreeze_tok1"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = tokenizerCorpus
      assert(graft.sources.TokenizerStore.freeze(docs, name) == 1L)
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(1L))
      // re-derive the table (training is deterministic) — the frozen
      // rows must be the identical ranked sequence
      val retrained = graft.operators.Quality.trainBpeMerges(spark, docs,
        graft.operators.Quality.BpeTrainRounds)
      assert(graft.sources.TokenizerStore.mergesFrozen(spark, name)
        == retrained)
      // and serving folds exactly like the storeless t29 path
      val expected = docs.select(col("doc_id"),
          graft.operators.Quality.bpeTokenCountWith(retrained)(col("text"))
            .as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val served = graft.sources.TokenizerStore
        .tokenCountsFrozen(spark, docs, name)
        .select("doc_id", "n_bpe_trained")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == expected)
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("tokenizer loop: familiar arrivals no-op; drifted arrivals retrain and re-pin") {
    val name = "refreeze_tok2"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = tokenizerCorpus
      graft.sources.TokenizerStore.freeze(docs, name)
      // re-uploads of known text compress exactly like the corpus:
      // drift 0 — never a retrain
      val familiar = docs.select((col("doc_id") + 1000L).as("doc_id"),
        col("text"))
      assert(graft.sources.TokenizerStore.refreezeIfStale(
        spark, docs, familiar, name).isEmpty)
      // empty arrival batches are a no-op, not a divide-by-zero
      assert(graft.sources.TokenizerStore.refreezeIfStale(
        spark, docs, familiar.filter(lit(false)), name).isEmpty)
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // the frozen rules barely fire on the junk regime: its ratio
      // sits near 1 while the corpus compressed well under them
      val stale = graft.sources.TokenizerStore
        .staleness(spark, junkArrivals, name).collect()(0)
      assert(stale.getAs[Double]("ratio_drift") > 0.10,
        s"junk regime must read as compression drift, got $stale")

      // the loop fires: retrain on corpus ∪ arrivals, pointer flips
      val fired = graft.sources.TokenizerStore.refreezeIfStale(
        spark, docs, junkArrivals, name)
      assert(fired.contains(2L), s"drifted arrivals must trigger gen 2, got $fired")
      assert(graft.sources.FreezeStore.readPtr(spark, name).map(_._1).contains(2L))

      // the retrained table absorbed the junk pairs: the arrivals now
      // compress below 1 under the live rules and read fresh
      val after = graft.sources.TokenizerStore
        .staleness(spark, junkArrivals, name).collect()(0)
      assert(after.getAs[Double]("arrival_ratio") <
        stale.getAs[Double]("arrival_ratio"),
        s"absorbed arrivals must compress better: $stale -> $after")
      assert(graft.sources.TokenizerStore.refreezeIfStale(
        spark, docs, junkArrivals, name).isEmpty,
        "absorbed arrivals must no longer trip the loop")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("the tokenizer loop is reachable through the api facade") {
    val g = new graft.api.Graft(spark, sf)
    val name = "refreeze_tok_api"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = tokenizerCorpus
      assert(g.freezeTokenizer(docs, name) == 1L)
      assert(g.tokenizeFrozen(docs, name).count() == docs.count())
      assert(g.tokenizerStaleness(docs, name).count() == 1L)
      val familiar = docs.select((col("doc_id") + 1000L).as("doc_id"),
        col("text"))
      assert(g.refreezeTokenizerIfStale(docs, familiar, name).isEmpty)
      assert(g.refreezeTokenizerIfStale(docs, junkArrivals, name)
        .contains(2L))
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("a reader bound before the automated flip survives it (retention)") {
    val name = "refreeze_loop3"
    FreezeStore.dropAll(spark, name)
    try {
      MediaIndexStore.freeze(corpus, name, retain = 1)
      val probe = corpus.limit(8)
        .select((col("doc_id") + 5000L).as("doc_id"), col("h_hi"), col("h_lo"))
      // bind a reader plan to generation 1 and evaluate it once
      val bound = MediaIndexStore.matchFrozen(spark, probe, name)
      val before = bound.orderBy("doc_id", "match_id").collect().toSeq
      assert(before.nonEmpty, "the bound reader must have matches to prove survival")

      // the automated flip fires mid-"query"
      assert(MediaIndexStore.refreezeIfStale(spark, novelArrivals, name,
        minHitShare = 0.5, retain = 1).contains(2L))

      // the BOUND plan re-evaluates against its own generation's
      // tables — retention kept them through the flip
      val after = bound.orderBy("doc_id", "match_id").collect().toSeq
      assert(after == before,
        "a generation-1-bound reader must answer identically through the flip")

      // while a FRESH binding sees generation 2 (corpus ∪ arrivals):
      // a novel-arrival copy matches now, which gen 1 could not do
      val novelProbe = novelArrivals.limit(2)
        .select((col("doc_id") + 9000L).as("doc_id"), col("h_hi"), col("h_lo"))
      assert(MediaIndexStore.matchFrozen(spark, novelProbe, name).count() > 0)
      assert(FreezeStore.listGens(spark, name) == Seq(1L, 2L),
        "retain=1 keeps exactly the superseded generation")
    } finally FreezeStore.dropAll(spark, name)
  }
}
