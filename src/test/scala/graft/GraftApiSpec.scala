package graft

import graft.api.Graft
import java.nio.file.Files

class GraftApiSpec extends SparkSpec {

  lazy val g = new Graft(spark, sf)

  test("typed table views decode") {
    assert(g.documents.head().text.nonEmpty)
    assert(g.embeddings.head().embedding.length === 64)
    assert(g.events.count() > 0)
  }

  test("operator families are reachable through the facade") {
    assert(g.exactDuplicates.count() > 0)
    assert(g.nearestNeighbors.filter(_.rank == 1).count() > 0)
    assert(g.textQuality.columns.contains("quality"))
  }

  test("round-2 operators are reachable through the facade") {
    val clusters = g.dedupClusters.collect()
    assert(clusters.nonEmpty)
    assert(clusters.forall(c => c.cluster_id <= c.doc_id),
      "cluster id is the min doc id of the component")
    val red = g.piiRedacted.head()
    assert(red.red_hash.length === 32, "md5 digest of the redacted text")
    val curated = g.curated.collect()
    assert(curated.nonEmpty)
    assert(curated.forall(c => Set("train", "val", "test")(c.split)))
    assert(curated.forall(_.quality >= 0.5))
  }

  test("round-2b operators are reachable through the facade") {
    assert(g.tokenBudget().columns.contains("cum_tokens"))
    assert(g.unigramLmScores.columns.contains("mean_prob"))
    assert(g.annRecall.count() > 0)
    assert(g.centroidCosines.columns.contains("cos_centroid"))
    assert(g.shardManifest().count() === 16)
    assert(g.dupSpans.columns.contains("dup_span_ratio"))
    assert(g.vocabStats.columns.contains("type_token_ratio"))
  }

  test("round-2d operators are reachable through the facade") {
    val sem = g.semanticDedup.collect()
    assert(sem.nonEmpty)
    assert(sem.forall(c => c.cluster_id <= c.vec_id))
    assert(sem.forall(c => c.is_keeper == (c.cluster_id == c.vec_id)))
    val packed = g.sequencePack().collect()
    assert(packed.nonEmpty)
    assert(packed.forall(p => p.bin_offset >= 0 && p.bin_offset < 2048))
    assert(g.packingStats().columns.contains("fill_ratio"))
    val mix = g.mixtureResample.collect()
    assert(mix.nonEmpty)
    assert(mix.forall(_.getAs[Long]("epoch") >= 1L))
    assert(g.charProfile.columns.contains("alpha_ratio"))
    assert(g.frameIndex.columns.contains("frame_md5"))
  }

  test("round-2e operators are reachable through the facade") {
    val cal = g.lshCalibration.collect()
    assert(cal.nonEmpty)
    assert(cal.forall(r => math.abs(r.getAs[Double]("err")) <= 1.0))
    assert(g.decontaminationList.columns.contains("worst_overlap"))
    val ord = g.shuffleOrder.collect()
    assert(ord.map(_.getAs[Long]("doc_id")).distinct.length == ord.length)
    val card = g.sourceDatasheet.collect()
    assert(card.length == 20)
    assert(card.forall(r =>
      r.getAs[Long]("n_low_quality") <= r.getAs[Long]("n_docs")))
  }

  test("round-3 operators are reachable through the facade") {
    assert(g.retention.columns.contains("retention"))
    assert(g.gapFilledHourly.count() > 0)
    assert(g.madOutliers.columns.contains("n_outliers"))
    val hist = g.scd2History.collect()
    assert(hist.nonEmpty)
    assert(hist.count(_.is_current) ===
      hist.map(_.user_id).distinct.length,
      "exactly one current state per user")
    assert(g.normDuplicates.head().n_copies >= 1)
    val seg = g.packBoundaries().head()
    assert(seg.seg_start + seg.seg_len <= 2048)
    assert(g.queueAging.columns.contains("final_status"))
  }

  test("round-6 operators are reachable through the facade") {
    assert(g.ivfpq.filter("rank = 1").count() > 0)
    val sweep = g.filteredRecallSweep.collect()
    assert(sweep.map(_.getAs[Int]("probe_fine")).toSeq == Seq(1, 2, 4, 8))
    val packed = g.bpePack().collect()
    assert(packed.nonEmpty && packed.forall(p => p.bin_offset < 2048))
    assert(g.corpusSeedIndex.columns.toSeq == Seq("doc_corp", "ib", "term"))
    val semInc = g.incrementalSemanticDedup.collect()
    assert(semInc.nonEmpty &&
      semInc.forall(r => Set("drop_near", "keep")(r.getAs[String]("verdict"))))
    // decodeImages goes through the same seam MultimodalSpec pins
    // with real PNGs; here just the facade wiring over doc bytes
    intercept[Exception] {
      g.decodeImages(graft.operators.Multimodal.mediaTable(spark, sf)).count()
    } // utf-8 text is not a decodable image — the loud-failure path
  }

  test("round-8 operators are reachable through the facade") {
    val hll = g.hllDistinct.head()
    assert(hll.getAs[Long]("sum_scaled") === hll.getAs[Long]("merged_sum_scaled"))
    assert(g.sceneSample.count() > 0)
    val sil = g.silenceSegments.collect()
    assert(sil.nonEmpty && sil.forall(r => r.getAs[Long]("n_windows") > 0))
    val ep = g.epochPlan().collect()
    assert(ep.nonEmpty && ep.forall(r =>
      r.getAs[Long]("target_tokens") ===
        r.getAs[Long]("n_full_epochs") * r.getAs[Long]("n_tokens") +
          r.getAs[Long]("rem_tokens")))
    assert(g.tokenGini.filter("gini >= 0 and gini < 1").count() ===
      g.tokenGini.count())
  }

  test("round-8d/8e operators are reachable through the facade") {
    assert(g.saltedRevenue.count() > 0)
    assert(g.bm25Search.count() > 0)
    assert(g.textrankKeywords.count() > 0)
    assert(g.associationRules.count() > 0)
    assert(g.transitionMatrix.count() > 0)
    assert(g.columnProfile.count() === 5)
    g.seasonalAnomalies.count() // may legitimately flag nothing
    val tri = g.copurchaseTriangles.collect()
    assert(tri.nonEmpty && tri.map(_.getAs[Long]("tri_slots")).sum % 3 === 0)
    assert(g.relatedParts.filter("jaccard > 0 and jaccard <= 1").count() ===
      g.relatedParts.count())
    assert(g.partPagerank.filter("rank_micro >= 150000").count() ===
      g.partPagerank.count())
  }

  test("round-9: remaining round-8d/8e batch methods are reachable through the facade") {
    import org.apache.spark.sql.functions.col
    // ADVICE r8: these were wired but never called through the facade
    val sk = g.skewAudit.collect()
    assert(sk.length === 10 &&
      sk.forall(_.getAs[Double]("skew_factor") > 0))
    val it = g.incrementalTriangles.head()
    assert(it.getAs[Long]("tri_added") ===
      it.getAs[Long]("tri_1_new") + it.getAs[Long]("tri_2_new") +
        it.getAs[Long]("tri_3_new"))
    assert(g.gramMatrix.count() === 2080) // 64·65/2 upper-triangle cells
    val ms = g.marketShare.collect()
    assert(ms.nonEmpty && ms.forall { r =>
      val s = r.getAs[Double]("share"); s > 0 && s <= 1.0 })
    assert(g.localSupplierRevenue.count() > 0)
    val ph = g.perceptualHashes
    assert(ph.columns.toSeq ===
      Seq("doc_id", "h_hi", "h_lo", "n_bits_set"))
    // the pair join over the real hashes (fixture text-bytes are far
    // apart — nearest measured pair hamming 10, so widest exact
    // threshold still pairs nothing; the join machinery is what's
    // being exercised, the positive path is MultimodalSpec's PNGs)
    assert(g.perceptualPairs(ph).count() === 0)
    // round-9 keys through the facade
    val wd = g.windowedDedup.collect()
    assert(wd.nonEmpty && wd.forall(_.getAs[Long]("n_copies") >= 1))
    val tk = g.decayedTopk.collect()
    assert(tk.nonEmpty && tk.forall(_.getAs[Long]("rn") <= 5))
    // frozen-index ship/search/append wiring (behavior pinned in
    // AnnShipSpec; here the facade path end-to-end)
    g.shipAnnIndex("api_ann", buckets = 2)
    try {
      assert(g.searchFrozenAnn("api_ann").count() === g.ivfpq.count())
      def assignRows() =
        graft.sources.AnnIndexStore.load(spark, "api_ann").assign.count()
      val before = assignRows()
      // a disjoint arrival batch: fresh ids, real vectors
      val arrivals = graft.sources.Tables.embeddings(spark, sf)
        .filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
          col("embedding"))
      g.appendToAnnIndex(arrivals, "api_ann")
      assert(assignRows() === before + arrivals.count())
      // compaction through the facade: rows preserved across the swap
      g.compactAnnIndex("api_ann")
      assert(assignRows() === before + arrivals.count())
      // the arrivals were never landed in the embeddings SOURCE, so a
      // search whose top-20 reaches one must refuse (the ADVICE r9
      // coverage guard) instead of silently dropping it — and these
      // arrivals are exact copies of existing vectors, so they reach it
      val ex = intercept[Exception](g.searchFrozenAnn("api_ann").count())
      def msgs(e: Throwable): Seq[String] = Option(e).toSeq
        .flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
      assert(msgs(ex).exists(_.contains("missing from embeddings")))
    } finally graft.sources.FreezeStore.dropAll(spark, "api_ann")
    g.shipBloomFilter("api_bloom")
    try assert(g.screenAgainstFrozenBloom("api_bloom").count() ===
      graft.operators.Dedup.d19BloomScreen(spark, sf).count())
    finally graft.sources.FreezeStore.dropAll(spark, "api_bloom")
  }

  test("round-9: streaming wrappers are reachable through the facade") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // corpus-closing triangles: tiny arrival stream vs the SHARED
    // batch algebra (TriStreamSpec pins the full equality; this pins
    // the facade wiring end-to-end)
    val corpus = g.corpusEdgeIndex
    val inc = graft.operators.Graph.orderPairs(
        graft.sources.Tables.lineitem(spark, sf)
          .filter(col("l_orderkey") % 10 >= 8)
          .select(col("l_orderkey"), col("l_partkey")))
      .join(corpus, Seq("x", "y"), "left_anti")
    val dir = Files.createTempDirectory("api-tri").toString
    inc.write.mode("overwrite").parquet(dir)
    val q = g.streamingTriangles(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("apitri")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("apitri").count() ===
      g.incrementalTriangles.head().getAs[Long]("tri_1_new"))

    // first-order transitions: 3-event fixture + watermark sentinel
    val evDir = Files.createTempDirectory("api-trans").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((7L, 1L, ts("2024-01-01 10:00:00"), "view"),
        (7L, 2L, ts("2024-01-01 10:05:00"), "click"),
        (7L, 3L, ts("2024-01-01 10:10:00"), "purchase"),
        (-1L, 9L, ts("2024-01-01 18:00:00"), "view")) // sentinel
      .toDF("user_id", "event_id", "ts", "event_type")
      .repartition(1).write.mode("overwrite").parquet(evDir)
    val q2 = g.streamingTransitions(
        spark.readStream.schema(spark.read.parquet(evDir).schema).parquet(evDir))
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("apitrans")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = spark.table("apitrans").filter($"user_id" === 7L)
      .select($"from_type", $"to_type").as[(String, String)]
      .collect().sorted.toSeq
    assert(got === Seq(("click", "purchase"), ("view", "click")))

    // horizon-windowed dedup through the facade: the fixture's three
    // events carry DISTINCT types, so each (user, type) dedup key
    // closes its own single-copy window (suppression semantics are
    // pinned in EventStreamSpec; this is the facade wiring)
    val q3 = g.streamingWindowedDedup(
        spark.readStream.schema(spark.read.parquet(evDir).schema).parquet(evDir))
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("apiwd")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    val wd = spark.table("apiwd").filter($"user_id" === 7L)
      .select($"win", $"keep_event_id", $"n_copies")
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(wd.toSeq === Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L)))
  }

  test("round-9: media transform facade methods are reachable") {
    import spark.implicits._
    // a 4×4 PNG and an 8-frame WAV, through the facade seams
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0x336699)
    val pb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pb)
    val rz = g.resizeImages(Seq((1L, pb.toByteArray)).toDF("doc_id", "media"), 2, 2)
      .collect()
    assert(rz.length === 1 && rz.head.width === 2 && rz.head.height === 2)

    val pcm = Array.tabulate(16)(j => (j * 100).toShort)
    val bytes = new Array[Byte](32)
    pcm.zipWithIndex.foreach { case (s, j) =>
      bytes(2 * j) = (s & 0xff).toByte
      bytes(2 * j + 1) = ((s >> 8) & 0xff).toByte
    }
    val wb = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes),
        new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false), 16L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wb)
    val dc = g.decimateAudio(Seq((1L, wb.toByteArray)).toDF("doc_id", "media"), 2)
      .collect()
    assert(dc.length === 1 && dc.head.sampleRate === 4000 && dc.head.nSamples === 8)
  }

  test("registerSql exposes views + custom expressions to pure SQL") {
    g.registerSql()
    val n = spark.sql(
      "SELECT count(*) FROM graft_documents WHERE source = 'src0'").head.getLong(0)
    assert(n > 0)
    // the custom codegen'd dot product, from SQL, on a view
    val dot = spark.sql(
      """SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d""")
      .head.getLong(0)
    assert(dot === 32L)
    val g2 = spark.sql(
      "SELECT regexp_extract_groups('ab 12', '^([a-z]+) ([0-9]+)$') AS g")
      .head.getSeq[String](0)
    assert(g2 === Seq("ab 12", "ab", "12")) // group 0 = full match
    // pushdown survives the view: filters reach the parquet scan
    val plan = spark.sql(
      "SELECT doc_id FROM graft_documents WHERE doc_id = 7").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      "SQL over the view must keep scan pushdown")
  }

  test("maillogTables replays a real log file into the four tables") {
    val f = Files.createTempFile("maillog", ".log")
    Files.write(f, Seq(
      "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=h1.example.com[10.0.0.1]",
      "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@x.com>, size=9, nrcpt=1 (ok)",
      "Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@y.org>, relay=r[1.2.3.4]:25, delay=0.5, delays=0.1/0.1/0.1/0.2, dsn=2.0.0, status=sent (250 ok)"
    ).mkString("\n").getBytes)
    val t = g.maillogTables(f.toString)
    assert(t("logs").count() === 3)
    assert(t("clients").count() === 1)
    assert(t("messages").count() === 1)
    assert(t("deliveries").count() === 1)
    val m = t("messages").first()
    assert(m.getAs[String]("message_client") === "h1.example.com[10.0.0.1]")
    assert(m.getAs[Long]("message_size") === 9L)
  }

  test("round-11 media family is reachable through the facade") {
    val m = g.incrementalMediaMatch.collect()
    assert(m.nonEmpty && m.forall(_.getLong(2) <= 3),
      "mm11 matches within the hamming gate")
    assert(g.mediaBandDrift.count() === 4, "one drift row per band")
    val hashes = g.documents.sparkSession.createDataFrame(Seq(
      (1L, 7L, 9L), (2L, 7L, 9L))).toDF("doc_id", "h_hi", "h_lo")
    try {
      g.freezeMediaIndex(hashes.filter(hashes("doc_id") === 1L), "api_media")
      assert(g.matchFrozenMedia(hashes.filter(hashes("doc_id") === 2L),
        "api_media").count() === 1)
      g.appendMediaIndex(hashes.filter(hashes("doc_id") === 2L), "api_media")
      assert(g.matchFrozenMedia(hashes, "api_media").count() === 4,
        "both arrivals now match both absorbed corpus rows")
      // compaction through the facade: matches preserved across the swap
      g.compactMediaIndex("api_media", files = 2)
      assert(g.matchFrozenMedia(hashes, "api_media").count() === 4)
      assert(g.streamingBandCounters(hashes).count() === 4,
        "identical hashes share all four band buckets")
    } finally graft.sources.FreezeStore.dropAll(g.documents.sparkSession, "api_media")
  }

  test("round-11c decision-support shapes are reachable through the facade") {
    assert(g.orderCountDistribution.count() > 0)
    assert(g.smallQuantityRevenue.count() > 0)
    assert(g.returnedRevenue.count() <= 20 && g.returnedRevenue.count() > 0)
    assert(g.promoShare
      .filter("promo_share >= 0 and promo_share <= 1 and promo_rev <= total_rev")
      .count() === g.promoShare.count())
    assert(g.topSupplier.count() > 0)
    assert(g.partVariety.filter("supplier_cnt > 0").count() ===
      g.partVariety.count())
    assert(g.bracketRevenue.count() <= 3 && g.bracketRevenue.count() > 0)
    assert(g.profitByNation.count() > 0)
    assert(g.importantParts.count() > 0)
    assert(g.unshippedBacklog.count() <= 10 && g.unshippedBacklog.count() > 0)
    // per-part argmin: one row per surviving part, positive prices
    assert(g.cheapestSupplier.select("p_partkey").distinct().count() ===
      g.cheapestSupplier.count())
    assert(g.cheapestSupplier.filter("price_micro <= 0").count() === 0)
    // q61: every priority's late count is bounded by its quarter total
    val lo = g.lateOrders.collect()
    assert(lo.nonEmpty && lo.forall(_.getAs[Long]("n_orders") > 0))
    // q62: both branches populated per status, counts disjoint-add
    val ps = g.prioritySplit.collect()
    assert(ps.nonEmpty && ps.forall(r =>
      r.getAs[Long]("high_line_count") > 0 &&
        r.getAs[Long]("low_line_count") > 0))
    // every mined negative really is cross-label, ranked inside its query
    assert(g.hardNegatives.filter("neg_label = q_label").count() === 0)
    assert(g.hardNegatives.filter("rank >= 1 and rank <= 5").count() ===
      g.hardNegatives.count())
    // chunker: every document appears, last chunk never empty
    assert(g.chunkWindows().select("doc_id").distinct().count() ===
      g.documents.count())
    assert(g.chunkWindows().filter("n_tok < 1 or n_tok > 32").count() === 0)
    // composed pack: one packed row per chunk, offsets inside the bin
    assert(g.chunkPack().count() === g.chunkWindows().count())
    assert(g.chunkPack()
      .filter("bin_offset < 0 or bin_offset >= 2048").count() === 0)
  }

  test("round-12 text-index family is reachable through the facade") {
    val name = "api_text"
    val ss = g.documents.sparkSession
    try {
      g.freezeTextIndex(name)
      // frozen search answers and equals the live p21 ranking core
      val qs = graft.operators.TextAnalysis.Bm25Queries
      val frozen = g.searchTextIndex(name, qs).collect().toSeq
      assert(frozen.nonEmpty)
      assert(frozen == graft.operators.Pipeline.chunkBm25Ranked(
        graft.operators.Pipeline.chunkFrame(g.documents.toDF()))
        .collect().toSeq, "facade frozen search must equal the live core")
      // staleness over fresh docs: novel ids → fully unseen vocabulary
      import org.apache.spark.sql.functions.lit
      val novel = ss.createDataFrame(Seq(
        (9000001L, "zzznovelterm1 zzznovelterm2"))).toDF("doc_id", "text")
      val st = g.textStaleness(novel, name).head()
      assert(st.getAs[Long]("n_postings") === 2L &&
        st.getAs[Long]("n_unseen") === 2L,
        s"novel-vocabulary arrivals must read fully unseen: $st")
      // the drift loop fires on them and the new generation retrieves
      assert(g.refreezeTextIfStale(novel, name).contains(2L))
      assert(g.searchTextIndex(name, Seq(1 -> Seq("zzznovelterm1")))
        .count() === 1)
      // compaction through the facade: retrieval preserved across the swap
      g.compactTextIndex(name)
      assert(g.searchTextIndex(name, Seq(1 -> Seq("zzznovelterm1")))
        .count() === 1)
      // diverse context: at most ONE chunk per (query, document),
      // ranks dense from 1, budget respected
      val dc = g.diverseContext().collect()
      assert(dc.nonEmpty)
      assert(dc.map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")))
        .distinct.length === dc.length,
        "diversity cut must keep one chunk per (query, doc)")
      assert(dc.forall(_.getAs[Long]("cum_tok") <= 96L))
      // incremental ranking: 10 rows per query, ranks dense
      val inc = g.incrementalBm25.collect()
      assert(inc.nonEmpty && inc.forall(r => r.getAs[Long]("rank") >= 1 &&
        r.getAs[Long]("rank") <= 10))
      // the live monitor itself: two regimes, drift ordered
      val drift = g.vocabDrift.collect()
      assert(drift.length === 2)
      val byRegime = drift.map(r =>
        r.getAs[String]("regime") -> r.getAs[Double]("unseen_share")).toMap
      assert(byRegime("reverse") > byRegime("inject"),
        s"reversed text must drift harder than one injected token: $byRegime")
    } finally graft.sources.FreezeStore.dropAll(ss, name)
  }

  test("round-13 graph-index family is reachable through the facade") {
    val name = "api_graph"
    val ss = g.documents.sparkSession
    try {
      // live monitor: bands ordered, shares sum to ~1 on each side
      val drift = g.graphDegreeDrift.collect()
      assert(drift.nonEmpty)
      assert(math.abs(drift.map(_.getAs[Double]("corp_share")).sum - 1.0) < 1e-9)
      // frozen lifecycle: freeze the corpus edges, probe equals live
      g.freezeGraphIndex(g.corpusEdgeIndex, name, buckets = 4)
      import org.apache.spark.sql.functions.col
      val li = graft.sources.Tables.lineitem(ss, sf)
        .select("l_orderkey", "l_partkey")
      val probe = graft.operators.Graph.orderPairs(
          li.filter(col("l_orderkey") % 10 >= 8))
        .join(g.corpusEdgeIndex, Seq("x", "y"), "left_anti")
      val got = g.probeFrozenGraph(probe, name).collect().toSeq
      assert(got.nonEmpty)
      assert(got.map(_.toString).sorted ==
        graft.operators.Graph.closedByCorpus(probe, g.corpusEdgeIndex)
          .collect().toSeq.map(_.toString).sorted,
        "facade frozen probe must equal the live closure")
      // staleness over novel edges reads fully unseen → refreeze fires
      val novel = ss.createDataFrame(Seq(
        (9000001L, 9000002L), (9000002L, 9000003L))).toDF("x", "y")
      val st = g.graphStaleness(novel, name)
        .filter(col("band") === -1L).head()
      assert(st.getAs[Long]("n_end_new") === 4L,
        s"novel-node arrivals must land in the unseen band: $st")
      assert(g.refreezeGraphIfStale(novel, name).contains(2L))
      assert(g.probeFrozenGraph(ss.createDataFrame(
        Seq((9000001L, 9000003L))).toDF("x", "y"), name).count() === 1L,
        "the refrozen index must close the novel wedge")
      g.compactGraphIndex(name)
      assert(g.probeFrozenGraph(ss.createDataFrame(
        Seq((9000001L, 9000003L))).toDF("x", "y"), name).count() === 1L)
      // hybrid retrieval: RRF fused ranks dense from 1, both source
      // ranks bounded to their top-10s
      val rrf = g.rrfFusion.collect()
      assert(rrf.nonEmpty && rrf.forall(r =>
        r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 10))
      assert(rrf.exists(r => !r.isNullAt(r.fieldIndex("rank_bm25")) &&
        !r.isNullAt(r.fieldIndex("rank_tfidf"))),
        "some docs must be ranked by BOTH scorers")
      assert(rrf.exists(r => r.isNullAt(r.fieldIndex("rank_bm25")) ||
        r.isNullAt(r.fieldIndex("rank_tfidf"))),
        "the scorers must genuinely disagree for the fusion to matter")
      // MMR selection: exactly MmrPicks picks per query, no chunk
      // picked twice, redundancy monotone enters after pick 1
      val mmr = g.mmrContext().collect()
      assert(mmr.nonEmpty)
      val perQ = mmr.groupBy(_.getAs[Int]("query_id"))
      assert(perQ.values.forall(_.length == graft.operators.Pipeline.MmrPicks))
      assert(mmr.map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_id"))).distinct.length == mmr.length,
        "a chunk must never be picked twice")
      assert(mmr.filter(_.getAs[Long]("pick") == 1L)
        .forall(_.getAs[Long]("simmax_micro") == 0L))
    } finally graft.sources.FreezeStore.dropAll(ss, name)
  }

  test("round-14 hybrid+classifier family is reachable through the facade") {
    import org.apache.spark.sql.functions._
    // hybrid live fusion: fused ranks dense from 1, every row backed
    // by at least one modality, and BOTH modalities represented
    val hf = g.hybridFusion.collect()
    assert(hf.nonEmpty && hf.forall(r =>
      r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 10))
    assert(hf.forall(r => !r.isNullAt(r.fieldIndex("rank_bm25")) ||
      !r.isNullAt(r.fieldIndex("rank_dense"))))
    assert(hf.exists(r => !r.isNullAt(r.fieldIndex("rank_bm25"))) &&
      hf.exists(r => !r.isNullAt(r.fieldIndex("rank_dense"))),
      "both modalities must contribute to the fusion")
    // classifier: exact margin identity, both verdict classes, top
    // features ordered by |contribution|
    val cls = g.qualityClassifier.collect()
    assert(cls.nonEmpty)
    assert(cls.forall(r => r.getAs[Boolean]("keep") ==
      (r.getAs[Long]("score") >= 0L)))
    assert(cls.exists(_.getAs[Boolean]("keep")) &&
      cls.exists(!_.getAs[Boolean]("keep")),
      "both keep/drop classes must be populated")
    assert(cls.filter(r => !r.isNullAt(r.fieldIndex("c1")) &&
        !r.isNullAt(r.fieldIndex("c2")))
      .forall(r => math.abs(r.getAs[Long]("c1")) >=
        math.abs(r.getAs[Long]("c2"))),
      "top features must be ordered by |contribution|")
    // tenant-filtered hybrid: every fused candidate belongs to its
    // query's label scope (both modalities are label-tightened)
    val fh = g.filteredHybridFusion.collect()
    assert(fh.nonEmpty && fh.forall(r =>
      r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 10))
    val labelOf = g.embeddings.collect()
      .map(e => e.vec_id -> e.label).toMap
    assert(fh.forall(r => labelOf(r.getAs[Long]("doc_id")) ==
      r.getAs[Int]("label")),
      "every fused doc must carry the query's label (scoped search)")
    // the scope genuinely changes the answer vs the unfiltered hybrid
    val unf = g.hybridFusion.collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"))).toSet
    assert(fh.exists(r => !unf((r.getAs[Int]("query_id"),
      r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))),
      "the label filter must move at least one fused rank")
    // calibration curve: one row per grid threshold, keep mass
    // monotone non-increasing in θ (a tighter gate keeps fewer),
    // agreement bounded to [0, 1]
    val cal = g.gateCalibration.collect()
    assert(cal.length == graft.operators.Quality.GateThresholdGrid.length)
    val keeps = cal.sortBy(_.getAs[Long]("theta_milli"))
      .map(_.getAs[Long]("n_keep")).toSeq
    assert(keeps.sliding(2).forall(p => p.head >= p.last),
      s"keep mass must be monotone non-increasing in θ: $keeps")
    assert(cal.forall(r => r.getAs[Double]("agree_share") >= 0.0 &&
      r.getAs[Double]("agree_share") <= 1.0))
    // in-engine training: exactly one pocket epoch, and it carries
    // the minimum error count of the curve; epoch 1 evaluates the
    // all-zero weights (sign(0)=+1 ⇒ errors = the negative class)
    val tr = g.trainClassifier.collect()
    assert(tr.length == 8 * 64, s"8 epochs x 64 features: ${tr.length}")
    val byEpoch = tr.groupBy(_.getAs[Long]("epoch"))
      .map { case (e, rs) => e -> (rs.head.getAs[Long]("n_err"),
        rs.head.getAs[Boolean]("is_pocket")) }
    val minErr = byEpoch.values.map(_._1).min
    val pockets = byEpoch.filter(_._2._2)
    assert(pockets.size == 1 && pockets.head._2._1 == minErr,
      s"exactly one pocket epoch at the curve minimum: $byEpoch")
    assert(byEpoch(1L)._1 > minErr,
      "training must improve on the all-zero start")
    assert(tr.filter(_.getAs[Long]("epoch") == 1L)
      .forall(_.getAs[Long]("w") == 0L),
      "epoch 1 reports the evaluated (all-zero) weights")
    // score-drift monitor: the derived regimes bracket any trigger —
    // inject stays under 5% unseen, reverse fires past 90%
    val sd = g.scoreDrift.collect().map(r =>
      r.getAs[String]("regime") -> r).toMap
    assert(sd.keySet == Set("inject", "reverse"))
    assert(sd("inject").getAs[Double]("unseen_share") < 0.05,
      "inject must read as benign fresh content")
    assert(sd("reverse").getAs[Double]("unseen_share") > 0.9,
      "reverse must read as a distribution shift")
    assert(math.abs(sd("inject").getAs[Double]("margin_drift")) <
      math.abs(sd("reverse").getAs[Double]("margin_drift")),
      "the shifted regime must drift further than the benign one")
    // classifier-gated curation: a subset of the rule-based curation,
    // every survivor classifier-positive
    val cur = g.classifierCuration.collect()
    assert(cur.nonEmpty && cur.forall(_.getAs[Long]("score") >= 0L))
    val p01Ids = g.curated.collect().map(_.doc_id).toSet
    assert(cur.forall(r => p01Ids(r.getAs[Long]("doc_id"))),
      "p26 must be a strict gate over p01's survivors")
    assert(cur.length < p01Ids.size,
      "the learned gate must genuinely cut (non-vacuous composition)")
  }

  test("NOQUEUE rejected deliveries land in the deliveries table") {
    // reference: SmtpRe's qid alternation is `([a-zA-Z0-9]+|NOQUEUE)`
    // (maillog2db.go:52) — a rejected delivery has no queue id but is
    // still recorded
    val f = Files.createTempFile("maillog-noq", ".log")
    Files.write(f, Seq(
      "Jan 02 03:04:07 mx1 postfix/smtp[103]: NOQUEUE: to=<b@y.org>, relay=r[1.2.3.4]:25, delay=0.1, delays=0.0/0.0/0.0/0.1, dsn=5.7.1, status=rejected (554 denied)"
    ).mkString("\n").getBytes)
    val dl = g.maillogTables(f.toString)("deliveries").collect()
    assert(dl.length === 1)
    assert(dl.head.getAs[String]("delivery_queueid") === "NOQUEUE")
    assert(dl.head.getAs[String]("delivery_status") === "rejected")
    assert(dl.head.getAs[String]("delivery_dsn") === "5.7.1")
  }
}
