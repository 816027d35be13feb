package graft

import graft.operators.Pipeline
import graft.sources.{Bm25IndexStore, FreezeStore, Tables}
import org.apache.spark.sql.functions._

/** The frozen inverted text index: frozen search == the live p21
  * ranking core over the same corpus (structural via the shared
  * bm25Micro/chunkFrame definitions, pinned here row-for-row), the
  * frozen-IDF append semantics (known-term arrivals searchable, new
  * terms invisible until re-freeze), the staleness monitor reading
  * exactly that gap, the drift→refreeze loop, and reader survival
  * through an automated re-freeze. */
class TextIndexSpec extends SparkSpec {

  private def chunks(rows: Seq[(Long, Seq[String])]) =
    spark.createDataFrame(rows.map { case (ck, ts) =>
      (ck, ts.size.toLong, ts)
    }).toDF("ck", "n_tok", "t")

  test("frozen search equals the live p21 ranking core") {
    val name = "textfr1"
    FreezeStore.dropAll(spark, name)
    try {
      val cf = Pipeline.chunkFrame(Tables.documents(spark, sf))
      Bm25IndexStore.freeze(cf, name)
      val live = Pipeline.chunkBm25Ranked(cf).collect().toSeq
      val frozen = Bm25IndexStore.searchFrozen(spark, name,
        graft.operators.TextAnalysis.Bm25Queries).collect().toSeq
      assert(live.nonEmpty, "fixture must rank something")
      assert(frozen == live,
        s"frozen search != live ranking (${frozen.length} vs ${live.length})")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("frozen-IDF append: known terms searchable, unseen terms invisible, staleness reads the gap") {
    val name = "textfr2"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta", "beta"),
        2L -> Seq("alpha", "gamma"),
        3L -> Seq("delta", "beta"))), name)
      // arrival 10: a frozen-vocab term; arrival 11: ONLY unseen terms
      val arrivals = chunks(Seq(
        10L -> Seq("alpha", "epsilon"),
        11L -> Seq("zeta", "zeta", "eta")))
      Bm25IndexStore.append(arrivals, name)

      // known-term search finds the appended chunk (scored with the
      // FROZEN df — searchable without a re-freeze)
      val hitsAlpha = Bm25IndexStore.searchFrozen(spark, name,
        Seq(1 -> Seq("alpha"))).select("ck").collect().map(_.getLong(0)).toSet
      assert(hitsAlpha == Set(1L, 2L, 10L),
        s"appended known-term chunk must be searchable: $hitsAlpha")

      // an unseen term retrieves NOTHING until the next freeze
      assert(Bm25IndexStore.searchFrozen(spark, name,
        Seq(1 -> Seq("zeta"))).count() == 0,
        "unseen-vocabulary terms cannot retrieve before a re-freeze")

      // the monitor reads exactly that: arrival postings alpha,
      // epsilon, zeta, eta — 3 of 4 distinct (ck,term) rows unseen
      val st = Bm25IndexStore.staleness(spark, arrivals, name).head()
      assert(st.getAs[Long]("n_postings") == 4L &&
        st.getAs[Long]("n_unseen") == 3L,
        s"staleness must count unseen postings: $st")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("frozen staleness equals the live t20 drift algebra over the same frames") {
    val name = "textfr5"
    FreezeStore.dropAll(spark, name)
    try {
      val cf = Pipeline.chunkFrame(Tables.documents(spark, sf))
      Bm25IndexStore.freeze(cf, name)
      val arrivals = chunks(Seq(
        10L -> Seq("alpha", "unseen1"),
        11L -> Seq("unseen2", "unseen2", "unseen3")))
      // live side: the t20 core over the SAME corpus-derived vocab
      // and stats the freeze persisted
      val vocab = cf.select(explode(col("t")).as("term")).distinct()
      val fstat = cf.agg((sum(col("n_tok")).cast("double") /
        count(lit(1))).as("frozen_avgdl"))
      val live = Pipeline.vocabDriftRow(arrivals, vocab, fstat)
        .collect().toSeq
      val frozen = Bm25IndexStore.staleness(spark, arrivals, name)
        .collect().toSeq
      assert(live.nonEmpty && frozen == live,
        s"frozen staleness must equal the live drift row: $frozen vs $live")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("drift → refreeze: unseen share trips it; the new generation retrieves new terms") {
    val name = "textfr3"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"),
        2L -> Seq("alpha", "gamma"))), name)
      // in-vocabulary arrivals: no trip
      assert(Bm25IndexStore.refreezeIfStale(spark,
        chunks(Seq(20L -> Seq("alpha", "beta"))), name,
        maxUnseenShare = 0.2).isEmpty)
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // bind a reader to generation 1
      val bound = Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
      val before = bound.collect().toSeq
      assert(before.nonEmpty)

      // novel-vocabulary arrivals: 2/2 postings unseen → refreeze
      val novel = chunks(Seq(30L -> Seq("omega", "sigma")))
      assert(Bm25IndexStore.refreezeIfStale(spark, novel, name,
        maxUnseenShare = 0.2).contains(2L))

      // the gen-1-bound reader answers through the automated flip …
      assert(bound.collect().toSeq == before,
        "a gen-1-bound reader must survive the refreeze")
      // … and a fresh search retrieves by the previously unseen term
      val hits = Bm25IndexStore.searchFrozen(spark, name,
        Seq(1 -> Seq("omega"))).select("ck").collect().map(_.getLong(0)).toSet
      assert(hits == Set(30L), s"re-freeze must absorb the new vocabulary: $hits")
      // the rebuilt-from-postings corpus kept the old chunks whole
      val alphaHits = Bm25IndexStore.searchFrozen(spark, name,
        Seq(1 -> Seq("alpha"))).select("ck").collect().map(_.getLong(0)).toSet
      assert(alphaHits == Set(1L, 2L),
        s"refreeze must preserve the frozen corpus: $alphaHits")
      assert(FreezeStore.listGens(spark, name) == Seq(1L, 2L))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("refreeze after append of the SAME arrivals: absorbed chunks are not frozen twice") {
    // ADVICE r12: the natural monitor flow — append a batch, then run
    // the staleness check with that same batch — used to union the
    // arrivals into the new freeze on top of the reconstructed corpus
    // (which already contains them once committed): doubled tf,
    // duplicate lens rows, skewed stats. The defensive ck anti-join
    // makes the double-submission idempotent.
    val name = "textfr9"
    val ref = "textfr9_ref"
    FreezeStore.dropAll(spark, name)
    FreezeStore.dropAll(spark, ref)
    try {
      val corpus = chunks(Seq(
        1L -> Seq("alpha", "beta"),
        2L -> Seq("alpha", "gamma")))
      // mixed batch: a known-vocab chunk + one of ONLY novel terms,
      // so the append absorbs both and the drift check still trips
      val arrivals = chunks(Seq(
        10L -> Seq("alpha", "alpha"),
        11L -> Seq("omega", "omega", "sigma")))
      Bm25IndexStore.freeze(corpus, name)
      Bm25IndexStore.append(arrivals, name)
      val fired = Bm25IndexStore.refreezeIfStale(spark, arrivals, name,
        maxUnseenShare = 0.2)
      assert(fired.contains(2L), s"novel vocabulary must trip: $fired")
      // reference: ONE clean freeze over corpus ∪ arrivals
      Bm25IndexStore.freeze(corpus.unionByName(arrivals), ref)
      val q = Seq(1 -> Seq("alpha", "beta"), 2 -> Seq("omega"))
      val got = Bm25IndexStore.searchFrozen(spark, name, q).collect().toSeq
      val want = Bm25IndexStore.searchFrozen(spark, ref, q).collect().toSeq
      assert(got.nonEmpty && got == want,
        s"double-submitted arrivals must freeze once (${got.length} rows vs " +
          s"${want.length}); scores diverge when tf doubles")
    } finally {
      FreezeStore.dropAll(spark, name)
      FreezeStore.dropAll(spark, ref)
    }
  }

  test("freeze → append → searchFrozen equals the oracle-gated p22 incremental key") {
    val name = "textfr8"
    FreezeStore.dropAll(spark, name)
    try {
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
      Bm25IndexStore.freeze(Pipeline.chunkFrame(docs), name)
      Bm25IndexStore.append(Pipeline.chunkFrame(
        graft.operators.TextAnalysis.injectArrivals(docs)), name)
      val frozen = Bm25IndexStore.searchFrozen(spark, name,
        graft.operators.TextAnalysis.Bm25Queries).collect().toSeq
      val live = Pipeline.p22IncrementalBm25(spark, sf).collect().toSeq
      assert(live.nonEmpty && frozen == live,
        "the store's incremental read path must equal the oracle-gated " +
          s"p22 key (${frozen.length} vs ${live.length})")
      // at least one appended (id ≥ 1,000,000·2²⁰) chunk ranked — the
      // frozen-IDF 'searchable immediately' half is exercised, not
      // vacuously true
      assert(live.exists(_.getLong(2) >= 1000000L * 1048576L),
        "fixture must surface an arrival chunk in some top-10")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("compaction: appended batches collapse to sorted buckets, search rows unchanged, appends continue") {
    val name = "textfr6"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"),
        2L -> Seq("alpha", "gamma"))), name, buckets = 4)
      Bm25IndexStore.append(chunks(Seq(10L -> Seq("alpha", "alpha"))), name)
      Bm25IndexStore.append(chunks(Seq(11L -> Seq("beta", "gamma"))), name)
      def postingsFiles: Seq[java.io.File] = {
        val t = FreezeStore.genTable(name, 1L, "postings")
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.getPath
        new java.io.File(loc).listFiles().toSeq
          .filter(_.getName.startsWith("part-"))
      }
      val q = Seq(1 -> Seq("alpha", "beta", "gamma"))
      val before = Bm25IndexStore.searchFrozen(spark, name, q).collect().toSeq
      assert(before.map(_.getLong(2)).toSet == Set(1L, 2L, 10L, 11L),
        "both appended chunks must be searchable before compaction")
      assert(postingsFiles.length > 4,
        "two appends must have landed extra file generations")
      Bm25IndexStore.compact(spark, name)
      assert(postingsFiles.length <= 4,
        s"compaction must land at most one file per bucket: " +
          postingsFiles.map(_.getName).sorted.mkString(", "))
      assert(Bm25IndexStore.searchFrozen(spark, name, q).collect().toSeq
        == before, "post-compaction search rows unchanged")
      // the store keeps absorbing after the rewrite
      Bm25IndexStore.append(chunks(Seq(12L -> Seq("alpha"))), name)
      assert(Bm25IndexStore.searchFrozen(spark, name,
        Seq(1 -> Seq("alpha"))).select("ck").collect().map(_.getLong(0)).toSet
        .contains(12L), "post-compaction append must be searchable")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("streaming drift: per-micro-batch staleness equals the batch read over the same arrivals") {
    import spark.implicits._
    val name = "textfr7"
    val dirBase = java.nio.file.Files.createTempDirectory("bm25drift").toString
    FreezeStore.dropAll(spark, name)
    try {
      val docs = Tables.documents(spark, sf)
      Bm25IndexStore.freeze(Pipeline.chunkFrame(docs), name)
      // two deterministic arrival slices: one in-vocabulary re-upload,
      // one novel-vocabulary batch (t20's regimes, one per file)
      val arrDir = s"$dirBase/arrivals"
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .limit(5).coalesce(1)
        .write.mode("overwrite").parquet(s"$arrDir/p=0")
      Seq((2000001L, "zzznovel1 zzznovel2 zzznovel1"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$arrDir/p=1")
      val g = new graft.api.Graft(spark, sf)
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$arrDir/p=*")
      val q = g.streamingTextDrift(stream, name,
        s"$dirBase/out", s"$dirBase/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$dirBase/out").listFiles()
        .filter(_.getName.startsWith("batch=")).sortBy(_.getName)
      assert(outs.length == 2, s"one drift row per micro-batch: ${outs.length}")
      // each batch's streamed row == the batch staleness over that slice
      val streamed = spark.read.parquet(s"$dirBase/out")
        .select("n_arr_chunks", "n_postings", "n_unseen", "unseen_share")
        .collect().toSet
      val expect = Seq(s"$arrDir/p=0", s"$arrDir/p=1").map { p =>
        Bm25IndexStore.staleness(spark,
          Pipeline.chunkFrame(spark.read.parquet(p)), name)
          .select("n_arr_chunks", "n_postings", "n_unseen", "unseen_share")
          .head()
      }.toSet
      assert(streamed == expect,
        s"streamed drift rows must equal batch staleness: $streamed vs $expect")
      // the novel batch reads fully unseen; the re-upload reads zero
      val shares = spark.read.parquet(s"$dirBase/out")
        .select("unseen_share").collect().map(_.getDouble(0)).sorted
      assert(shares.head == 0.0 && shares.last == 1.0,
        s"regimes must bracket the drift signal: ${shares.toSeq}")
    } finally {
      FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirBase))
    }
  }

  test("streaming search: per-batch ranking equals the batch search (idempotent sink)") {
    import spark.implicits._
    val name = "textfr4"
    val dirBase = java.nio.file.Files.createTempDirectory("bm25stream").toString
    FreezeStore.dropAll(spark, name)
    try {
      val cf = Pipeline.chunkFrame(Tables.documents(spark, sf))
      Bm25IndexStore.freeze(cf, name)
      val qdir = s"$dirBase/queries"
      graft.operators.TextAnalysis.Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
        .coalesce(1).write.mode("overwrite").parquet(qdir)
      val stream = spark.readStream
        .schema("query_id INT, term STRING").parquet(qdir)
      val q = graft.streaming.Bm25Stream.searchStream(stream, name,
        s"$dirBase/out", s"$dirBase/ckpt")
      q.awaitTermination()
      val streamed = spark.read.parquet(s"$dirBase/out")
        .select("query_id", "rank", "ck", "n_tok", "n_terms_hit", "score_micro")
        .orderBy("query_id", "rank").collect().toSeq
      val batch = Bm25IndexStore.searchFrozen(spark, name,
        graft.operators.TextAnalysis.Bm25Queries)
        .orderBy("query_id", "rank").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed ranking must equal batch (${streamed.length} vs ${batch.length})")
    } finally {
      FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirBase))
    }
  }
}
