package graft

import graft.operators.Similarity
import graft.sources.{FreezeStore, Tables}
import graft.streaming.AnnStream
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The streaming frozen-index search must equal the batch frozen
  * search row-for-row over the same query set — the route→ADC→rerank
  * algebra is literally shared (ivfpqSearchQ), so this pins the
  * per-micro-batch composition, checkpoint-restart replay through the
  * idempotent by-batch sink, and the wholly-old-or-new generation
  * contract across a MID-STREAM re-freeze (each batch resolves the
  * pointer once). */
class AnnStreamSpec extends SparkSpec {

  private def queries() = Tables.embeddings(spark, sf)
    .filter(col("vec_id") % 20 === 0)
    .select("vec_id", "label", "embedding")

  private def results(out: String) =
    spark.read.parquet(out).drop("batch")
      .orderBy("q_id", "rank").collect().toSeq

  test("streamed search equals batch frozen search through a checkpoint restart") {
    Similarity.shipIvfpqIndex(spark, sf, "annstream1", buckets = 4)
    val in = Files.createTempDirectory("annq").toString
    val ckpt = Files.createTempDirectory("annckpt").toString
    val out = Files.createTempDirectory("annout").toString
    try {
      val corpus = AnnStream.corpusFrame(spark, sf)
      def runOnce(): Unit = {
        val streamed = spark.readStream
          .schema(spark.read.parquet(in).schema).parquet(in)
        val q = AnnStream.searchStream(streamed, corpus, "annstream1",
          out, ckpt)
        q.awaitTermination()
      }
      // first arrival wave, then a checkpoint restart over the second
      queries().filter(col("vec_id") % 40 === 0)
        .write.mode("overwrite").parquet(in)
      runOnce()
      queries().filter(col("vec_id") % 40 =!= 0)
        .write.mode("append").parquet(in)
      runOnce()

      val want = Similarity.searchFrozenIvfpq(spark, sf, "annstream1")
        .orderBy("q_id", "rank").collect().toSeq
      val got = results(out)
      assert(got.nonEmpty && got == want,
        s"streamed search != batch frozen search (${got.length} vs ${want.length} rows)")
    } finally FreezeStore.dropAll(spark, "annstream1")
  }

  test("mid-stream re-freeze: each micro-batch is wholly-old or wholly-new") {
    Similarity.shipIvfpqIndex(spark, sf, "annstream2", buckets = 2)
    val in = Files.createTempDirectory("annq2").toString
    val ckpt = Files.createTempDirectory("annckpt2").toString
    val out = Files.createTempDirectory("annout2").toString
    try {
      val corpus = AnnStream.corpusFrame(spark, sf)
      val chunkA = queries().filter(col("vec_id") % 40 === 0)
      val chunkB = queries().filter(col("vec_id") % 40 =!= 0)
      def runOnce(): Unit = {
        val streamed = spark.readStream
          .schema(spark.read.parquet(in).schema).parquet(in)
        AnnStream.searchStream(streamed, corpus, "annstream2", out, ckpt)
          .awaitTermination()
      }
      // generation-1 expectation for chunk A, computed BEFORE the
      // re-freeze moves the pointer
      val wantA = Similarity
        .searchFrozenForQueries(chunkA, corpus, "annstream2")
        .orderBy("q_id", "rank").collect().toSeq
      chunkA.write.mode("overwrite").parquet(in)
      runOnce() // batch 0 binds generation 1
      spark.sharedState.cacheManager.clearCache()

      // staleness-triggered refresh over a different corpus slice —
      // lands BETWEEN micro-batches
      Similarity.shipIvfpqIndex(spark, sf, "annstream2", buckets = 2,
        corpusPred = col("vec_id") % 10 < 8)
      val wantB = Similarity
        .searchFrozenForQueries(chunkB, corpus, "annstream2")
        .orderBy("q_id", "rank").collect().toSeq
      chunkB.write.mode("append").parquet(in)
      runOnce() // batch 1 binds generation 2

      val gotA = spark.read.parquet(s"$out/batch=0")
        .orderBy("q_id", "rank").collect().toSeq
      val gotB = spark.read.parquet(s"$out/batch=1")
        .orderBy("q_id", "rank").collect().toSeq
      assert(gotA.nonEmpty && gotA == wantA,
        "the pre-re-freeze batch must be wholly generation 1")
      assert(gotB.nonEmpty && gotB == wantB,
        "the post-re-freeze batch must be wholly generation 2")
      assert(wantA != wantB.filter(_ => true) && {
        // the two generations must actually differ where they overlap
        // in shape for the pin to prove anything: the gen-2 index
        // excludes 1-in-5 corpus vectors, so some top-5 set changes
        val a = Similarity.searchFrozenForQueries(chunkA, corpus,
          "annstream2").orderBy("q_id", "rank").collect().toSeq
        a != wantA
      }, "the re-freeze must actually change chunk-A answers for this " +
        "test to prove anything")
    } finally FreezeStore.dropAll(spark, "annstream2")
  }

  test("streamed hard-negative mining equals batch s21 through a restart") {
    // no index here: the miner's corpus side is the at-rest quantized
    // frame (batch s21's own candidate side) — what this pins is the
    // shared minedAgainst algebra per micro-batch plus the idempotent
    // by-batch replay across a checkpoint restart
    val in = Files.createTempDirectory("mineq").toString
    val ckpt = Files.createTempDirectory("mineckpt").toString
    val out = Files.createTempDirectory("mineout").toString
    val corpus = AnnStream.corpusFrame(spark, sf)
    def runOnce(): Unit = {
      val streamed = spark.readStream
        .schema(spark.read.parquet(in).schema).parquet(in)
      AnnStream.mineStream(streamed, corpus, out, ckpt).awaitTermination()
    }
    // first arrival wave, then a checkpoint restart over the second
    queries().filter(col("vec_id") % 40 === 0)
      .write.mode("overwrite").parquet(in)
    runOnce()
    queries().filter(col("vec_id") % 40 =!= 0)
      .write.mode("append").parquet(in)
    runOnce()

    val want = Similarity.s21HardNegatives(spark, sf)
      .orderBy("q_id", "rank").collect().toSeq
    val got = results(out)
    assert(got.nonEmpty && got == want,
      s"streamed mining != batch s21 (${got.length} vs ${want.length} rows)")
  }
}
