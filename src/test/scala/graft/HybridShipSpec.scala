package graft

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.{Bm25IndexStore, FreezeStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The FROZEN hybrid dense+sparse serving path (VERDICT r13 #2):
  * t22's RRF combiner over the two SHIPPED indexes —
  * Bm25IndexStore searched doc-granularly + AnnIndexStore's IVFPQ
  * search — must equal the LIVE twin computed with no store at all
  * (t18's doc ranks + the live s13 IVFPQ ranks, fused by the ONE
  * rrfFuse definition). This composes the families' existing
  * frozen==live pins (TextIndexSpec, AnnShipSpec) into the actual
  * production read path: one query batch, two indexes, one fusion.
  */
class HybridShipSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  /** The live twin: t18 BM25 ranks + live s13 IVFPQ ranks restricted
    * to the hybrid query vectors, fused by the shared combiner. */
  private def liveFused(): DataFrame = {
    val bm25 = TextAnalysis.t18From(Tables.documents(spark, sf))
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank_bm25"))
    val qids = TextAnalysis.Bm25Queries.map(_._1.toLong *
      TextAnalysis.HybridQueryVecStride)
    val dense = Similarity.s13AnnIvfPq(spark, sf)
      .filter(col("q_id").isin(qids: _*))
      .select((col("q_id") / TextAnalysis.HybridQueryVecStride)
          .cast("int").as("query_id"),
        col("cand_id").as("doc_id"),
        col("rank").cast("long").as("rank_dense"))
    TextAnalysis.rrfFuse(bm25, dense, "rank_bm25", "rank_dense")
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rank_bm25"), col("rank_dense"), col("rrf"))
      .orderBy("query_id", "rank")
  }

  test("frozen hybrid fusion equals the storeless live twin end to end") {
    val (textName, annName) = ("hybridfr_text", "hybridfr_ann")
    FreezeStore.dropAll(spark, textName)
    graft.sources.FreezeStore.dropAll(spark, annName)
    try {
      val got = rows(TextAnalysis.hybridFrozen(spark, sf, textName, annName))
      val want = rows(liveFused())
      assert(want.nonEmpty, "the live fusion must produce rows")
      assert(got == want,
        s"frozen fused != live fused (${got.length} vs ${want.length} rows)")
    } finally {
      FreezeStore.dropAll(spark, textName)
      graft.sources.FreezeStore.dropAll(spark, annName)
    }
  }

  test("the fused frame is genuinely hybrid: single-modality and both-modality rows") {
    val (textName, annName) = ("hybridfr2_text", "hybridfr2_ann")
    FreezeStore.dropAll(spark, textName)
    graft.sources.FreezeStore.dropAll(spark, annName)
    try {
      val f = TextAnalysis.hybridFrozen(spark, sf, textName, annName).cache()
      try {
        // every query answered
        val nq = f.select("query_id").distinct().count()
        assert(nq == TextAnalysis.Bm25Queries.length.toLong,
          s"every hybrid query must produce fused rows: $nq")
        // the fusion is non-vacuous only if some doc carries BOTH
        // ranks and some docs carry exactly one (missing-rank = 0)
        assert(f.filter(col("rank_bm25").isNotNull &&
          col("rank_dense").isNotNull).count() > 0 ||
          f.filter(col("rank_bm25").isNull).count() > 0,
          "fusion must mix modalities")
        assert(f.filter(col("rank_bm25").isNull &&
          col("rank_dense").isNull).count() == 0,
          "a fused row must come from at least one ranker")
        // the frozen text side really is doc-granular: every fused
        // doc_id is a documents doc_id
        val docIds = Tables.documents(spark, sf).select("doc_id")
        assert(f.join(docIds, Seq("doc_id"), "left_anti").count() == 0,
          "fused doc_ids must be document ids (ck ≡ doc_id)")
      } finally f.unpersist()
    } finally {
      FreezeStore.dropAll(spark, textName)
      graft.sources.FreezeStore.dropAll(spark, annName)
    }
  }

  test("streaming hybrid: per-batch fused rows equal the batch frozen serving path") {
    import spark.implicits._
    val (textName, annName) = ("hybridfr4_text", "hybridfr4_ann")
    FreezeStore.dropAll(spark, textName)
    graft.sources.FreezeStore.dropAll(spark, annName)
    val base = java.nio.file.Files.createTempDirectory("hybridstream").toString
    try {
      // ship both indexes once (the serving precondition)
      TextAnalysis.hybridFrozen(spark, sf, textName, annName)
      // the 6 hybrid queries as arriving rows — terms from the shared
      // query set, dense vector = the t22 rule's corpus embedding
      val emb = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"), col("embedding"))
      val qrows = TextAnalysis.Bm25Queries
        .map { case (qid, ts) => (qid, ts, qid.toLong *
          TextAnalysis.HybridQueryVecStride) }
        .toDF("query_id", "terms", "vec_id")
        .join(emb, "vec_id")
        .select("query_id", "terms", "vec_id", "label", "embedding")
      // two slices → two micro-batches
      qrows.filter($"query_id" % 2 === 0).coalesce(1)
        .write.parquet(s"$base/in/p=0")
      qrows.filter($"query_id" % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(qrows.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      val q = graft.streaming.HybridStream.searchStream(stream,
        graft.streaming.AnnStream.corpusFrame(spark, sf),
        textName, annName, s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$base/out").listFiles()
        .filter(_.getName.startsWith("batch="))
      assert(outs.length == 2, s"one result set per micro-batch: ${outs.length}")
      val streamed = spark.read.parquet(s"$base/out")
        .select("query_id", "rank", "doc_id", "rank_bm25", "rank_dense", "rrf")
        .collect().map(_.toString).sorted.toSeq
      val want = rows(TextAnalysis.hybridFrozen(spark, sf, textName, annName,
        ship = false)).sorted
      assert(want.nonEmpty && streamed == want,
        s"streamed hybrid != batch frozen serving (${streamed.length} vs ${want.length})")
    } finally {
      FreezeStore.dropAll(spark, textName)
      graft.sources.FreezeStore.dropAll(spark, annName)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("re-serving reuses the shipped generation: no re-ship on the read path") {
    val (textName, annName) = ("hybridfr3_text", "hybridfr3_ann")
    FreezeStore.dropAll(spark, textName)
    graft.sources.FreezeStore.dropAll(spark, annName)
    try {
      TextAnalysis.hybridFrozen(spark, sf, textName, annName)
      val gen1 = FreezeStore.readPtr(spark, textName).map(_._1)
      // the search-only path answers off the existing freeze
      val again = rows(TextAnalysis.hybridFrozen(spark, sf, textName, annName,
        ship = false))
      assert(again.nonEmpty)
      assert(FreezeStore.readPtr(spark, textName).map(_._1) == gen1,
        "the read path must not advance the text index generation")
    } finally {
      FreezeStore.dropAll(spark, textName)
      graft.sources.FreezeStore.dropAll(spark, annName)
    }
  }
}
