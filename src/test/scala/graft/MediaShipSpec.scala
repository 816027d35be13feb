package graft

import graft.operators.Multimodal
import graft.sources.{FreezeStore, MediaIndexStore, Tables}
import graft.streaming.MediaStream
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The frozen media-hash index: frozen match == the live crossMatch
  * (the shared matchAgainst core makes it structural — this pins the
  * store's load path), the incremental identity against the self-join
  * pair path, the versioned re-freeze + retention sweep, and the
  * streaming twin (per-batch pointer binding, checkpoint-restart
  * replay, mid-stream re-freeze boundary). */
class MediaShipSpec extends SparkSpec {

  /** mm11's derived sides over the documents fixture (the driver key's
    * own split): corpus = every doc's relational aHash, arrivals =
    * re-encoded copies of the %10∈{8,9} docs under +1,000,000 ids. */
  private def sides() = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
    val arrDocs = docs.filter(col("doc_id") % 10 >= 8)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("~~~~"), expr("substr(text, 5)")).as("text"))
    (Multimodal.aHashRelational(arrDocs), Multimodal.aHashRelational(docs))
  }

  test("frozen match equals the live crossMatch (and the mm11 driver key)") {
    val (arr, corp) = sides()
    FreezeStore.dropAll(spark, "mediafr1")
    try {
      MediaIndexStore.freeze(corp, "mediafr1")
      val want = Multimodal.crossMatch(arr, corp)
        .orderBy("doc_id", "match_id").collect().toSeq
      val got = MediaIndexStore.matchFrozen(spark, arr, "mediafr1")
        .orderBy("doc_id", "match_id").collect().toSeq
      assert(want.nonEmpty, "fixture must produce arrival matches")
      assert(got == want, s"frozen match != live (${got.length} vs ${want.length})")
      // and the driver key is exactly this algebra, ordered
      val mm11 = Multimodal.mm11IncrementalMatch(spark, sf).collect().toSeq
      assert(mm11 == want, "mm11 must be the ordered live crossMatch")
    } finally FreezeStore.dropAll(spark, "mediafr1")
  }

  test("incremental identity: union self-join pairs = corpus pairs + batch pairs + cross matches") {
    // constructed hash frame: a corpus-internal near pair (1,2), an
    // arrival-internal near pair (101,102), a true cross match
    // (3→103), and isolated docs on both sides
    val corp = spark.createDataFrame(Seq(
      (1L, 0x1111222233334444L, 0x5555666677778888L),
      (2L, 0x1111222233334445L, 0x5555666677778888L), // ham 1 vs 1
      (3L, 0x0f0f0f0f0f0f0f0fL, 0x00ff00ff00ff00ffL),
      (4L, 0x123456789abcdef0L, 0x0fedcba987654321L)))
      .toDF("doc_id", "h_hi", "h_lo")
    val arr = spark.createDataFrame(Seq(
      (101L, 0x7777000011110000L, 0x2222000033330000L),
      (102L, 0x7777000011110001L, 0x2222000033330000L), // ham 1 vs 101
      (103L, 0x0f0f0f0f0f0f0f1fL, 0x00ff00ff00ff00ffL), // ham 1 vs 3
      (104L, 0x5a5a5a5a5a5a5a5aL, 0xa5a5a5a5a5a5a5a5L)))
      .toDF("doc_id", "h_hi", "h_lo")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unionPairs = pairSet(Multimodal.phashPairs(corp.unionByName(arr)))
    val corpPairs = pairSet(Multimodal.phashPairs(corp))
    val arrPairs = pairSet(Multimodal.phashPairs(arr))
    // crossMatch orients (arrival, corpus); arrival ids are larger, so
    // the union self-join sees the same pair as (corpus, arrival)
    val cross = Multimodal.crossMatch(arr, corp).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    assert(corpPairs == Set((1L, 2L, 1L)) && arrPairs == Set((101L, 102L, 1L))
      && cross == Set((3L, 103L, 1L)), "constructed fixture must hit all three kinds")
    assert(unionPairs == (corpPairs ++ arrPairs ++ cross),
      "the incremental split must lose and invent nothing")
  }

  test("re-freeze is wholly-old-or-new and the retention window sweeps") {
    val (arr, corp) = sides()
    FreezeStore.dropAll(spark, "mediafr2")
    try {
      MediaIndexStore.freeze(corp, "mediafr2")
      val r1 = MediaIndexStore.matchFrozen(spark, arr, "mediafr2")
        .orderBy("doc_id", "match_id").collect().toSeq
      // re-freeze over HALF the corpus: matches into the dropped half
      // must vanish, and nothing may mix generations
      val corp2 = corp.filter(col("doc_id") % 2 === 0)
      MediaIndexStore.freeze(corp2, "mediafr2")
      val r2 = MediaIndexStore.matchFrozen(spark, arr, "mediafr2")
        .orderBy("doc_id", "match_id").collect().toSeq
      val want2 = Multimodal.crossMatch(arr, corp2)
        .orderBy("doc_id", "match_id").collect().toSeq
      assert(r2 == want2, "post-re-freeze match must be wholly generation 2")
      assert(r1 != r2 && r2.forall(r => r.getLong(1) % 2 == 0),
        "the re-freeze must actually change answers for this test to prove anything")
      // retention: gen 1 survives one re-freeze (a bound reader's
      // window), the third freeze sweeps it
      assert(FreezeStore.listGens(spark, "mediafr2") == Seq(1L, 2L))
      MediaIndexStore.freeze(corp, "mediafr2")
      assert(FreezeStore.listGens(spark, "mediafr2") == Seq(2L, 3L))
    } finally FreezeStore.dropAll(spark, "mediafr2")
  }

  test("append is reserve-then-commit: uncommitted invisible, committed == live union") {
    val (arr, corp) = sides()
    val c1 = corp.filter(col("doc_id") % 2 === 0)
    val c2 = corp.filter(col("doc_id") % 2 =!= 0)
    FreezeStore.dropAll(spark, "mediafr4")
    try {
      MediaIndexStore.freeze(c1, "mediafr4")
      def matched() = MediaIndexStore.matchFrozen(spark, arr, "mediafr4")
        .orderBy("doc_id", "match_id").collect().toSeq
      val before = matched()

      // simulate an append that crashed AFTER reserving its id and
      // landing rows but BEFORE the commit flip: identical content to
      // the later real append — invisibility is decided by the batch
      // id, never by the rows
      val (gen, batches, hwm) =
        FreezeStore.readPtrFull(spark, "mediafr4").get
      FreezeStore.flipPtr(spark, "mediafr4", gen, batches, hwm = hwm + 1)
      Seq("hash" -> c2.select(col("doc_id"), col("h_hi"), col("h_lo")),
          "bands" -> graft.operators.Multimodal.bandRows(c2))
        .foreach { case (p, df) =>
          df.withColumn("batch", lit(hwm + 1)).withColumn("gen", lit(gen))
            .write.mode("append").format("parquet")
            .saveAsTable(FreezeStore.genTable("mediafr4", gen, p))
        }
      spark.sharedState.cacheManager.clearCache()
      assert(matched() == before,
        "a half-landed append must never reach a match")

      // the real append reads the advanced high-water mark, burns a
      // FRESH id past the orphan, and commits
      MediaIndexStore.append(c2, "mediafr4")
      val want = Multimodal.crossMatch(arr, c1.unionByName(c2))
        .orderBy("doc_id", "match_id").collect().toSeq
      val got = matched()
      assert(got == want,
        s"committed append must equal the live union (${got.length} vs ${want.length})")
      assert(got != before && before.forall(r => r.getLong(1) % 2 == 0)
        && got.exists(r => r.getLong(1) % 2 == 1),
        "the append must actually add odd-corpus matches to prove anything")
      val (_, batchesAfter, hwmAfter) =
        FreezeStore.readPtrFull(spark, "mediafr4").get
      assert(hwmAfter == hwm + 2 && !batchesAfter.contains(hwm + 1),
        "the orphan's id must be burnt, never committed")
    } finally FreezeStore.dropAll(spark, "mediafr4")
  }

  test("compaction: appended batches collapse to bounded files, matches unchanged, appends continue") {
    val name = "media_compact"
    FreezeStore.dropAll(spark, name)
    try {
      val (arr, corp) = sides()
      MediaIndexStore.freeze(corp, name)
      // two absorb cycles: split the arrival batch deterministically
      MediaIndexStore.append(arr.filter(col("doc_id") % 2 === 0), name)
      MediaIndexStore.append(arr.filter(col("doc_id") % 2 === 1), name)
      def files(part: String): Seq[java.io.File] = {
        val t = FreezeStore.genTable(name, 1L, part)
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.getPath
        new java.io.File(loc).listFiles().toSeq
          .filter(_.getName.startsWith("part-"))
      }
      val before = MediaIndexStore.matchFrozen(spark, arr, name)
        .orderBy("doc_id", "match_id").collect().toSeq
      assert(before.nonEmpty, "arrivals must match the absorbed corpus")
      val preFiles = files("bands").length
      MediaIndexStore.compact(spark, name, files = 4)
      assert(files("bands").length <= 4 && files("hash").length <= 4,
        s"compaction must bound the file count (bands $preFiles → " +
          s"${files("bands").length})")
      assert(MediaIndexStore.matchFrozen(spark, arr, name)
        .orderBy("doc_id", "match_id").collect().toSeq == before,
        "post-compaction matches unchanged")
      // the store keeps absorbing after the rewrite
      MediaIndexStore.append(
        arr.select((col("doc_id") + 5000000L).as("doc_id"),
          col("h_hi"), col("h_lo")), name)
      assert(MediaIndexStore.matchFrozen(spark, arr, name).count()
        > before.length, "post-compaction append must be matchable")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("streaming band counters: two-checkpoint replay equals mm12's arrival buckets") {
    import spark.implicits._
    val (arr, _) = sides()
    val hashes = arr.select("doc_id", "h_hi", "h_lo")
    val dir = Files.createTempDirectory("bandin").toFile
    val ckpt = Files.createTempDirectory("bandckpt").toString
    val schema = hashes.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(dir.getAbsolutePath + "/*")
      val q = MediaStream.bandCounters(stream)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("memory").queryName("band_counters")
        .start()
      q.awaitTermination()
    }
    hashes.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk1").toString)
    runOnce()
    hashes.filter($"doc_id" % 2 =!= 0).coalesce(1)
      .write.parquet(new java.io.File(dir, "chunk2").toString)
    runOnce()
    val streamed = spark.table("band_counters")
      .as[(Int, Long, Long)].collect()
      .map { case (b, v, n) => (b, v) -> n }.toMap
    val batch = MediaStream.bandCounters(hashes)
      .as[(Int, Long, Long)].collect()
      .map { case (b, v, n) => (b, v) -> n }.toMap
    assert(batch.nonEmpty && streamed === batch,
      "streamed band counters != batch arrival buckets")
    // the bounded-state claim: the banding geometry is the cap
    assert(streamed.size <= 4 * 65536)
  }

  test("streaming match: restart replay + mid-stream re-freeze boundary") {
    // real-decode path over the rendered PNG corpus: families of 8
    // (doc div 8), variants within hamming <= 2 by construction
    val png = Multimodal.syntheticPngCorpus(spark, sf)
      .filter(col("doc_id") < 48).cache() // 6 whole families, deterministic
    val corpusImgs = png.filter(col("doc_id") % 8 < 6)
    val arrivalImgs = png.filter(col("doc_id") % 8 >= 6)
    val in = Files.createTempDirectory("mediain").toString
    val ckpt = Files.createTempDirectory("mediackpt").toString
    val out = Files.createTempDirectory("mediaout").toString
    FreezeStore.dropAll(spark, "mediafr3")
    try {
      MediaIndexStore.freeze(Multimodal.mediaHashes(corpusImgs), "mediafr3")
      def runOnce(): Unit = {
        val streamed = spark.readStream
          .schema(spark.read.parquet(in).schema).parquet(in)
        MediaStream.matchStream(streamed, "mediafr3", out, ckpt)
          .awaitTermination()
      }
      val waveA = arrivalImgs.filter(col("doc_id") % 8 === 6)
      val waveB = arrivalImgs.filter(col("doc_id") % 8 === 7)
      val wantA = MediaIndexStore
        .matchFrozen(spark, Multimodal.mediaHashes(waveA), "mediafr3")
        .orderBy("doc_id", "match_id").collect().toSeq
      waveA.write.mode("overwrite").parquet(in)
      runOnce() // batch 0 binds generation 1

      // staleness-triggered re-freeze BETWEEN batches: family 0's
      // corpus members leave the index
      MediaIndexStore.freeze(
        Multimodal.mediaHashes(corpusImgs.filter(col("doc_id") >= 8)),
        "mediafr3")
      val wantB = MediaIndexStore
        .matchFrozen(spark, Multimodal.mediaHashes(waveB), "mediafr3")
        .orderBy("doc_id", "match_id").collect().toSeq
      waveB.write.mode("append").parquet(in)
      runOnce() // checkpoint restart; batch 1 binds generation 2

      def batchRows(b: Int) = spark.read.parquet(s"$out/batch=$b")
        .orderBy("doc_id", "match_id").collect().toSeq
      assert(wantA.nonEmpty && batchRows(0) == wantA,
        "batch 0 must be wholly generation 1")
      assert(wantB.nonEmpty && batchRows(1) == wantB,
        "batch 1 must be wholly generation 2")
      assert(wantB.forall(_.getLong(1) >= 8),
        "generation 2 must not answer from the dropped family")
      assert(wantA.exists(_.getLong(1) < 8),
        "generation 1 must have answered from the dropped family for " +
          "the boundary to prove anything")
    } finally {
      FreezeStore.dropAll(spark, "mediafr3")
      png.unpersist()
    }
  }
}
