package graft

import graft.operators.Quality
import graft.sources.Tables
import graft.streaming.QualityStream
import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger

/** The streaming quality gate (per-row array algebra) must equal the
  * oracle-checked batch t14 row-for-row — the rule set is literally
  * shared, so this pins the METRIC computation (per-row bigram
  * profile vs t14's two groupBys), and the stream run proves the
  * whole plan is stateless (an aggregation would demand a watermark
  * or complete mode and fail the append-mode start). */
class QualityStreamSpec extends SparkSpec {

  test("per-row verdicts equal batch t14 on the documents table") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val got = QualityStream.qualityVerdicts(docs).orderBy("doc_id").collect()
    val want = Quality.t14QualityFilter(spark, sf).collect()
    assert(got.length === want.length)
    assert(got.sameElements(want), "per-row gate diverges from batch t14")
  }

  test("streaming classifier: per-batch scores equal the batch core under the frozen vocab") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the FROZEN artifact: vocabulary (and through it the weight
    // table) built from the full corpus, bound once at stream start
    val tokAll = docs.select(col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
    val vocab = graft.functions.TextFns.vocab(tokAll).cache()
    val base = Files.createTempDirectory("clsstream").toString
    try {
      // two deterministic arrival slices, one file each → one batch each
      docs.filter($"doc_id" % 2 === 0).coalesce(1)
        .write.parquet(s"$base/in/p=0")
      docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      val q = QualityStream.classifierStream(stream, vocab,
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$base/out").listFiles()
        .filter(_.getName.startsWith("batch="))
      assert(outs.length == 2, s"one result set per micro-batch: ${outs.length}")
      val streamed = spark.read.parquet(s"$base/out")
        .drop("batch") // inferred partition column
        .collect().map(_.toString).sorted.toSeq
      // the batch twin: the SAME core over the full corpus — valid
      // because scoring is per-doc independent given the frozen vocab
      val want = Quality.classifierScores(tokAll, vocab)
        .collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty && streamed == want,
        s"streamed classifier scores != batch core (${streamed.length} vs ${want.length})")
      // both verdict classes must be present (a degenerate gate
      // proves nothing)
      val verdicts = spark.read.parquet(s"$base/out")
        .groupBy("keep").count().collect()
      assert(verdicts.length == 2, s"both keep/drop classes expected: ${verdicts.toSeq}")
    } finally {
      vocab.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("frozen-classifier stream: per-batch scores equal the store's serving read") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val name = "qs_frozen_cls"
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = Files.createTempDirectory("fclsstream").toString
    try {
      // the shipped TRAINED artifact (t27 pocket run over the corpus)
      graft.sources.ClassifierStore.freeze(docs, name)
      docs.filter($"doc_id" % 2 === 0).coalesce(1)
        .write.parquet(s"$base/in/p=0")
      docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      val q = QualityStream.frozenClassifierStream(stream, name,
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$base/out").listFiles()
        .filter(_.getName.startsWith("batch="))
      assert(outs.length == 2, s"one result set per micro-batch: ${outs.length}")
      val streamed = spark.read.parquet(s"$base/out")
        .drop("batch").collect().map(_.toString).sorted.toSeq
      // per-doc scoring is independent given the frozen artifact, so
      // the batch serving read over the full corpus is the twin
      val want = graft.sources.ClassifierStore.scoreFrozen(spark, docs, name)
        .collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty && streamed == want,
        s"streamed frozen scores != serving read (${streamed.length} vs ${want.length})")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("frozen-tokenizer stream: per-batch counts equal the store's serving read") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val name = "qs_frozen_tok"
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = Files.createTempDirectory("ftokstream").toString
    try {
      // the shipped TRAINED merge table (t28 run over the corpus)
      graft.sources.TokenizerStore.freeze(docs, name)
      docs.filter($"doc_id" % 2 === 0).coalesce(1)
        .write.parquet(s"$base/in/p=0")
      docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      // through the facade — pure delegation, covered here
      val q = new graft.api.Graft(spark, sf).streamingTokenizerFrozen(
        stream, name, s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$base/out").listFiles()
        .filter(_.getName.startsWith("batch="))
      assert(outs.length == 2, s"one result set per micro-batch: ${outs.length}")
      val streamed = spark.read.parquet(s"$base/out")
        .drop("batch").collect().map(_.toString).sorted.toSeq
      // per-doc tokenization is independent given the frozen table,
      // so the batch serving read over the full corpus is the twin
      val want = graft.sources.TokenizerStore
        .tokenCountsFrozen(spark, docs, name)
        .collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty && streamed == want,
        s"streamed frozen counts != serving read (${streamed.length} vs ${want.length})")
      // non-degenerate: every doc tokenized to a positive count
      assert(spark.read.parquet(s"$base/out")
        .filter(col("n_bpe_trained") <= 0 || col("n_ws_tokens") <= 0)
        .count() == 0)
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("classifier drift stream: per-batch rows equal batch staleness across a mid-stream refreeze") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val name = "qs_drift_cls"
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = Files.createTempDirectory("clsdrift").toString
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    try {
      // gen 1 trains on HALF the corpus — the baseline the first
      // micro-batch must be graded against
      graft.sources.ClassifierStore.freeze(
        docs.filter($"doc_id" % 2 === 0), name)
      val slice0 = docs.filter($"doc_id" % 2 =!= 0)
      val slice1 = docs.filter($"doc_id" % 2 === 0)
      slice0.coalesce(1).write.parquet(s"$base/in/p=0")
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
        // through the facade — pure delegation, covered here
        new graft.api.Graft(spark, sf).streamingClassifierDrift(stream,
          name, s"$base/out", s"$base/ckpt").awaitTermination()
      }
      runOnce()
      // the batch twin MUST collect now — it reads the LIVE pointer
      val want0 = rowsOf(graft.sources.ClassifierStore
        .staleness(spark, slice0, name))
      // MID-STREAM REFREEZE: gen 2 trains on the FULL corpus, so its
      // stored baseline (corpus_score) provably differs from gen 1's
      graft.sources.ClassifierStore.freeze(docs, name)
      slice1.coalesce(1).write.mode("append").parquet(s"$base/in/p=1")
      runOnce()
      val want1 = rowsOf(graft.sources.ClassifierStore
        .staleness(spark, slice1, name))
      val got0 = rowsOf(spark.read.parquet(s"$base/out/batch=0"))
      val got1 = rowsOf(spark.read.parquet(s"$base/out/batch=1"))
      assert(got0 == want0,
        s"batch 0 drift must equal gen-1 staleness: $got0 vs $want0")
      assert(got1 == want1,
        s"batch 1 drift must equal gen-2 staleness: $got1 vs $want1")
      // the pointer RE-BOUND: the two batches read different stored
      // baselines (half-corpus vs full-corpus training)
      val c0 = spark.read.parquet(s"$base/out/batch=0")
        .select("corpus_score").head().getDouble(0)
      val c1 = spark.read.parquet(s"$base/out/batch=1")
        .select("corpus_score").head().getDouble(0)
      assert(c0 != c1,
        s"per-batch pointer re-bind must surface the gen-2 baseline ($c0 vs $c1)")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("tokenizer drift stream: per-batch rows equal batch staleness across a mid-stream refreeze") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val name = "qs_drift_tok"
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = Files.createTempDirectory("tokdrift").toString
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    try {
      // gen 1 trains on HALF the corpus
      graft.sources.TokenizerStore.freeze(
        docs.filter($"doc_id" % 2 === 0), name)
      val slice0 = docs.filter($"doc_id" % 2 =!= 0)
      val slice1 = docs.filter($"doc_id" % 2 === 0)
      slice0.coalesce(1).write.parquet(s"$base/in/p=0")
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
        // through the facade — pure delegation, covered here
        new graft.api.Graft(spark, sf).streamingTokenizerDrift(stream,
          name, s"$base/out", s"$base/ckpt").awaitTermination()
      }
      runOnce()
      val want0 = rowsOf(graft.sources.TokenizerStore
        .staleness(spark, slice0, name))
      // MID-STREAM REFREEZE: gen 2 retrains on the FULL corpus — a
      // different merge table AND a different stored baseline
      graft.sources.TokenizerStore.freeze(docs, name)
      slice1.coalesce(1).write.mode("append").parquet(s"$base/in/p=1")
      runOnce()
      val want1 = rowsOf(graft.sources.TokenizerStore
        .staleness(spark, slice1, name))
      val got0 = rowsOf(spark.read.parquet(s"$base/out/batch=0"))
      val got1 = rowsOf(spark.read.parquet(s"$base/out/batch=1"))
      assert(got0 == want0,
        s"batch 0 drift must equal gen-1 staleness: $got0 vs $want0")
      assert(got1 == want1,
        s"batch 1 drift must equal gen-2 staleness: $got1 vs $want1")
      // the pointer RE-BOUND: different stored compression baselines
      val r0 = spark.read.parquet(s"$base/out/batch=0")
        .select("corpus_ratio").head().getDouble(0)
      val r1 = spark.read.parquet(s"$base/out/batch=1")
        .select("corpus_ratio").head().getDouble(0)
      assert(r0 != r1,
        s"per-batch pointer re-bind must surface the gen-2 baseline ($r0 vs $r1)")
      // non-degenerate: the monitor carries real mass in both batches
      assert(spark.read.parquet(s"$base/out")
        .filter(org.apache.spark.sql.functions.col("tok_before") <= 0L)
        .count() == 0)
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("streaming CMS counters: two-checkpoint replay equals the batch counter table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = Files.createTempDirectory("cmsin").toFile
    val ckpt = Files.createTempDirectory("cmsckpt").toString
    val schema = docs.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(dir.getAbsolutePath + "/*")
      val q = QualityStream.cmsCounters(stream)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("memory").queryName("cms_counters")
        .start()
      q.awaitTermination()
    }
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk1").toString)
    runOnce()
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk2").toString)
    runOnce()
    val streamed = spark.table("cms_counters")
      .as[(Int, Long, Long)].collect()
      .map { case (j, c, n) => (j, c) -> n }.toMap
    val batch = graft.operators.Quality.cmsCountersOf(docs)
      .as[(Int, Long, Long)].collect()
      .map { case (j, c, n) => (j, c) -> n }.toMap
    assert(batch.nonEmpty)
    assert(streamed === batch, "streamed CMS counters != batch sketch")
    // the bounded-state claim: exactly the cells the geometry allows
    assert(streamed.size <= 4 * 1024)
  }

  test("streaming HLL registers: two-checkpoint replay equals the batch register table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = Files.createTempDirectory("hllin").toFile
    val ckpt = Files.createTempDirectory("hllckpt").toString
    val schema = docs.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(dir.getAbsolutePath + "/*")
      val q = QualityStream.hllRegisters(stream)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("memory").queryName("hll_registers")
        .start()
      q.awaitTermination()
    }
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk1").toString)
    runOnce()
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk2").toString)
    runOnce()
    val streamed = spark.table("hll_registers")
      .as[(Long, Long)].collect().toMap
    val batch = Quality.hllRegistersOf(docs)
      .as[(Long, Long)].collect().toMap
    assert(batch.nonEmpty)
    assert(streamed === batch, "streamed HLL registers != batch sketch")
    // the bounded-state claim: at most m register rows, ranks in 1..55
    assert(streamed.size <= 64)
    assert(streamed.values.forall(r => r >= 1 && r <= 55))
  }

  test("per-row gini profile equals oracle-gated batch t17 and streams stateless") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val got = QualityStream.giniProfile(docs).orderBy("doc_id").collect()
    val want = Quality.t17TokenGini(spark, sf).collect()
    assert(got.length === want.length && got.nonEmpty)
    assert(got.sameElements(want), "per-row gini diverges from batch t17")

    // append mode + no watermark: only a stateless plan can start
    val dir = Files.createTempDirectory("gini").toString
    docs.write.mode("overwrite").parquet(dir)
    val q = QualityStream.giniProfile(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("gini_rows")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("gini_rows").orderBy("doc_id").collect()
      .sameElements(want), "streamed gini != batch t17")
  }

  test("the gate runs STATELESS over a stream and matches the batch rows") {
    val dir = Files.createTempDirectory("qgate").toString
    Tables.documents(spark, sf).select("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)

    // append mode + no watermark: only a stateless plan can start
    val q = QualityStream.qualityVerdicts(streamed)
      .writeStream.outputMode("append")
      .format("memory").queryName("qgate")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("qgate").orderBy("doc_id").collect()
    val want = Quality.t14QualityFilter(spark, sf).collect()
    assert(got.sameElements(want), "streamed gate != batch t14")
  }

  test("the chunker runs STATELESS over a stream and matches the batch rows") {
    val dir = Files.createTempDirectory("chunk").toString
    Tables.documents(spark, sf).select("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)

    // append mode + no watermark: only a stateless plan can start
    val q = QualityStream.chunkWindows(streamed)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunks")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("chunks").orderBy("doc_id", "chunk_id").collect()
    val want = graft.operators.Pipeline.p19ChunkWindows(spark, sf).collect()
    assert(got.sameElements(want), "streamed chunks != batch p19")
  }
}
