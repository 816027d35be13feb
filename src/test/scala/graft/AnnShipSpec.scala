package graft

import graft.functions.TextFns.{qnorm2, quantize}
import graft.operators.{Dedup, Similarity}
import graft.sources.{AnnIndexStore, FreezeStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Ship/load of the frozen similarity index (VERDICT r8 #3, versioned
  * generations + atomic pointer r9 #1): a deployment freezes
  * cells/codes/codebook once per corpus snapshot; a FRESH session must
  * search the loaded index without rebuilding — and get exactly the
  * in-memory rows — with the corpus-scale candidates⋈codes join
  * planning shuffle-free off the bucketed layout. Re-freezes and
  * appends commit through one pointer flip, so a concurrent reader is
  * wholly-old or wholly-new, never mixed, and a crash at any step
  * self-heals on the next load. */
class AnnShipSpec extends SparkSpec {

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def expanded(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      case x => x
    }
    val nested = self.collect {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
    }
    val cached = self.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    }
    self +: (nested ++ cached).flatMap(expanded)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The live generation's physical table for one component. */
  private def liveTable(name: String, part: String): String = {
    val (gen, _) = FreezeStore.readPtr(spark, name).get
    FreezeStore.genTable(name, gen, part)
  }

  private def assertNoCorpusShuffle(name: String, df: DataFrame): Unit = {
    // the corpus-scale candidate⋈codes join must NOT shuffle the
    // bucketed codes table: every path from a ShuffleExchange down to
    // the codes scan must pass through a JOIN first — i.e. the codes
    // rows reached their join (and the map-side ADC aggregation)
    // straight off the bucketed scan. Downstream exchanges (the q_id
    // top-k windows over query-sized frames) legitimately contain the
    // scan transitively — they are above the join, which is exactly
    // the allowed shape.
    def codesShuffledRaw(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.tableIdentifier.exists(t =>
          t.table.startsWith(s"${name}_g") && t.table.endsWith("_codes"))
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        codesShuffledRaw(q.plan)
      case a: AdaptiveSparkPlanExec => codesShuffledRaw(a.executedPlan)
      case other => other.children.exists(codesShuffledRaw)
    }
    df.collect() // materialize so AQE's final plan is inspectable
    val offenders = expanded(physical(df))
      .flatMap(_.collect { case e: ShuffleExchangeExec => e })
      .filter(e => codesShuffledRaw(e.child))
    assert(offenders.isEmpty,
      "the bucketed codes table must reach its join without a shuffle")
  }

  test("frozen IVFPQ index: write, load in a NEW session, search identically") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_ivfpq", buckets = 4)

    // the in-memory answers, computed before any loaded plan exists
    val wantS13 = rows(Similarity.s13AnnIvfPq(spark, sf))
    val wantS15 = rows(Similarity.s15FilteredIvfPq(spark, sf))
    spark.sharedState.cacheManager.clearCache() // no cross-path cache reuse

    // a FRESH session (own session state; shared catalog — exactly
    // what a new driver process sees through the metastore)
    val s2 = spark.newSession()
    try {
      val gotS13 = Similarity.searchFrozenIvfpq(s2, sf, "ship_ivfpq")
      assert(rows(gotS13) == wantS13,
        "frozen-index s13 search must equal the in-memory rows")
      val gotS15 = Similarity.searchFrozenIvfpq(s2, sf, "ship_ivfpq",
        probeFine = 4, labelFiltered = true)
      assert(rows(gotS15) == wantS15,
        "frozen-index s15 search must equal the in-memory rows")
      assertNoCorpusShuffle("ship_ivfpq",
        Similarity.searchFrozenIvfpq(s2, sf, "ship_ivfpq"))
    } finally FreezeStore.dropAll(spark, "ship_ivfpq")
  }

  test("bucketed assign/codes: the ADC-shaped join+aggregate plans exchange-free") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_frag", buckets = 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = AnnIndexStore.load(spark, "ship_frag")
      val frag = idx.assign.join(idx.codes, "vec_id")
        .groupBy("vec_id", "m").agg(count(lit(1)).as("n"))
      frag.collect()
      val ex = expanded(physical(frag))
        .flatMap(_.collect { case e: ShuffleExchangeExec => e })
      assert(ex.isEmpty,
        s"bucketed join+agg must not shuffle:\n${physical(frag)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      FreezeStore.dropAll(spark, "ship_frag")
    }
  }

  test("shipped refined centroids equal a fresh two-round Lloyd build") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_ref", buckets = 4)
    try {
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
        .withColumn("nrm", qnorm2(col("qv")))
      val want = Similarity.refinedCents(e).orderBy("c_id")
      val got = AnnIndexStore.load(spark, "ship_ref").refined.orderBy("c_id")
      assert(got.count() > 0 && got.count() <= 64)
      assert(rows(got) == rows(want),
        "loaded refined centroids must equal the fresh build")
    } finally FreezeStore.dropAll(spark, "ship_ref")
  }

  test("append routes arrivals through the frozen quantizers; post-append search == in-memory union") {
    val basePred = col("vec_id") % 10 < 8
    Similarity.shipIvfpqIndex(spark, sf, "ship_app", buckets = 4,
      corpusPred = basePred)
    try {
      val arrivals = Tables.embeddings(spark, sf).filter(!basePred)
        .select("vec_id", "label", "embedding")
      assert(arrivals.count() > 0)
      Similarity.appendToFrozenIndex(arrivals, "ship_app")

      // expected: the SAME algebra in memory — base-corpus quantizers
      // (frozen at ship time), full-corpus membership
      val eAll = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
        .withColumn("nrm", qnorm2(col("qv")))
      val eBase = eAll.filter(basePred)
      val (coarse, f2c, assignBase) = Similarity.ivf2Index(eBase)
      val assignUnion = assignBase.select("vec_id", "label", "cell")
        .union(Similarity.assignCells(eAll.filter(!basePred), coarse, f2c)
          .join(eAll.select("vec_id", "label"), "vec_id")
          .select("vec_id", "label", "cell"))
      val cb = Similarity.boundedSeeds(eBase).select("vec_id", "qv", "nrm")
      val codesUnion = Similarity.pqDistances(eAll, cb)
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d2"), col("cw_id"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.cw_id").as("cw_id"))
      val qp = col("vec_id") % 20 === 0
      val adcTab = Similarity.pqDistances(eAll.filter(qp), cb)
        .select(col("vec_id").as("q_id"), col("m"), col("cw_id"),
          col("d2").as("qd2"))
      val want = rows(Similarity.ivfpqSearch(eAll, coarse, f2c, assignUnion,
        codesUnion, adcTab, qp, probeFine = 2, labelFiltered = false))
      spark.sharedState.cacheManager.clearCache()

      val s2 = spark.newSession()
      val got = rows(Similarity.searchFrozenIvfpq(s2, sf, "ship_app"))
      assert(got == want,
        "post-append frozen search must equal the in-memory union " +
          "through identical frozen quantizers")

      // bucket spec survived the append: the ADC-shaped fragment
      // still plans exchange-free over BOTH file sets
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val idx = AnnIndexStore.load(spark, "ship_app")
        val frag = idx.assign.join(idx.codes, "vec_id")
          .groupBy("vec_id", "m").agg(count(lit(1)).as("n"))
        frag.collect()
        val ex = expanded(physical(frag))
          .flatMap(_.collect { case e: ShuffleExchangeExec => e })
        assert(ex.isEmpty, "append must preserve the bucket layout")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

      // COMPACTION: the append left >1 file in at least one bucket
      // (one file set per write); compact() must collapse to exactly
      // one file per non-empty bucket, preserve rows, and keep the
      // exchange-free layout
      def dataFiles(t: String): Seq[java.io.File] = {
        val loc = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location
        new java.io.File(loc).listFiles().toSeq
          .filter(f => f.getName.startsWith("part-"))
      }
      val assignT = liveTable("ship_app", "assign")
      assert(dataFiles(assignT).length > 4,
        "append should have landed a second file generation")
      val before = rows(spark.table(assignT).orderBy("vec_id"))
      AnnIndexStore.compact(spark, "ship_app")
      assert(dataFiles(assignT).length <= 4,
        "compaction must land at most one file per bucket: " +
          dataFiles(assignT).map(_.getName).sorted.mkString(", "))
      assert(rows(spark.table(assignT).orderBy("vec_id")) == before,
        "compaction must preserve rows")
      val postCompact = rows(Similarity.searchFrozenIvfpq(spark.newSession(),
        sf, "ship_app"))
      assert(postCompact == want, "post-compaction search unchanged")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val idx2 = AnnIndexStore.load(spark, "ship_app")
        val frag2 = idx2.assign.join(idx2.codes, "vec_id")
          .groupBy("vec_id", "m").agg(count(lit(1)).as("n"))
        frag2.collect()
        val ex2 = expanded(physical(frag2))
          .flatMap(_.collect { case e: ShuffleExchangeExec => e })
        assert(ex2.isEmpty, "compaction must preserve the bucket layout")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally FreezeStore.dropAll(spark, "ship_app")
  }

  test("RE-FREEZE while a reader is live: wholly-old or wholly-new, never mixed") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_live", buckets = 2)
    try {
      // a reader binds its plan to generation 1 BEFORE the re-freeze
      val s2 = spark.newSession()
      val liveReader = Similarity.searchFrozenIvfpq(s2, sf, "ship_live")
      val want1 = rows(liveReader)
      val gen1 = FreezeStore.readPtr(spark, "ship_live").get._1

      // re-freeze over a DIFFERENT corpus slice (a staleness-triggered
      // refresh) — new generation, one pointer flip
      val basePred = col("vec_id") % 10 < 8
      Similarity.shipIvfpqIndex(spark, sf, "ship_live", buckets = 2,
        corpusPred = basePred)
      assert(FreezeStore.readPtr(spark, "ship_live").get._1 == gen1 + 1)

      // the live reader's plan still reads its own WHOLE generation
      // (retained until the freeze after next) — wholly-old
      assert(rows(liveReader) == want1,
        "a reader bound before the re-freeze must keep its generation")

      // a fresh load resolves the pointer — wholly-new: equal to the
      // in-memory build over the new slice, on a fresh session
      spark.sharedState.cacheManager.clearCache()
      val eAll = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
        .withColumn("nrm", qnorm2(col("qv")))
      val eBase = eAll.filter(basePred)
      val (coarse, f2c, assignBase) = Similarity.ivf2Index(eBase)
      val cb = Similarity.boundedSeeds(eBase).select("vec_id", "qv", "nrm")
      val codesBase = Similarity.pqCodes(eBase, cb)
      val qp = col("vec_id") % 20 === 0
      val adcTab = Similarity.pqDistances(eAll.filter(qp), cb)
        .select(col("vec_id").as("q_id"), col("m"), col("cw_id"),
          col("d2").as("qd2"))
      val want2 = rows(Similarity.ivfpqSearch(eAll, coarse, f2c,
        assignBase.select("vec_id", "label", "cell"), codesBase, adcTab,
        qp, probeFine = 2, labelFiltered = false))
      spark.sharedState.cacheManager.clearCache()
      val got2 = rows(Similarity.searchFrozenIvfpq(spark.newSession(), sf,
        "ship_live"))
      assert(got2 == want2, "a fresh load must see the new generation whole")
      assert(got2 != want1, "the two generations must actually differ " +
        "for this test to prove anything")
    } finally FreezeStore.dropAll(spark, "ship_live")
  }

  test("crash mid-pointer-flip self-heals backward on the next load") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_flip", buckets = 2)
    try {
      val want = rows(Similarity.searchFrozenIvfpq(spark, sf, "ship_flip"))
      // simulate a JVM death between the flip's two renames: the live
      // pointer is gone, only ptr_old survives
      spark.sql("ALTER TABLE ship_flip_ptr RENAME TO ship_flip_ptr_old")
      // the next load recovers the pointer and answers as before
      val got = rows(Similarity.searchFrozenIvfpq(spark.newSession(), sf,
        "ship_flip"))
      assert(got == want, "recoverPtr must restore the crashed flip")
      val (_, _, ok) = AnnIndexStore.verifyConsistency(spark, "ship_flip")
      assert(ok)
    } finally FreezeStore.dropAll(spark, "ship_flip")
  }

  test("crash mid-append: uncommitted batch is invisible; compact vacuums it") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_half", buckets = 2)
    try {
      val want = rows(Similarity.searchFrozenIvfpq(spark, sf, "ship_half"))
      val codesT = liveTable("ship_half", "codes")
      val rawBefore = spark.table(codesT).count()

      // simulate an append that crashed AFTER reserving its batch id
      // and landing codes rows but BEFORE the commit flip: the real
      // protocol reserves hwm=1 first (metadata-only), then lands
      // rows stamped with the uncommitted id (detached copies —
      // appending a self-read would race, and collected ONCE up
      // front: the source relation's file listing dies at compaction)
      val (gen0, batches0, _) = FreezeStore.readPtrFull(spark, "ship_half").get
      FreezeStore.flipPtr(spark, "ship_half", gen0, batches0, hwm = 1L)
      val bareSchema = spark.table(codesT).drop("batch", "gen").schema
      val codes4 = spark.table(codesT).drop("batch", "gen")
        .limit(4).collect().toSeq
      def codes4Df() = spark.createDataFrame(
        spark.sparkContext.parallelize(codes4), bareSchema)
      val orphan = codes4Df()
        .withColumn("batch", lit(1L)).withColumn("gen", lit(1L))
      orphan.write.mode("append").format("parquet")
        .bucketBy(2, "vec_id").sortBy("vec_id").saveAsTable(codesT)
      assert(spark.table(codesT).count() == rawBefore + 4)

      // the half-landed batch is INVISIBLE: search and audit unchanged
      spark.sharedState.cacheManager.clearCache()
      assert(rows(Similarity.searchFrozenIvfpq(spark.newSession(), sf,
        "ship_half")) == want,
        "an uncommitted batch must never reach a search")
      val (na, nc, ok) = AnnIndexStore.verifyConsistency(spark, "ship_half")
      assert(ok && nc == 4 * na,
        "the audit reads committed rows only — a half-append is not " +
          "an inconsistency, it is invisible")

      // compact() vacuums the orphan rows physically — under the
      // EXPLICIT vacuum flag (round 13: the gate refuses a
      // reserved-but-uncommitted id by default, since it cannot tell
      // a crashed append's orphan from a live one mid-land)
      val refused = intercept[IllegalStateException] {
        AnnIndexStore.compact(spark, "ship_half")
      }
      assert(refused.getMessage.contains("reserved but not committed"),
        s"default compact must refuse the ambiguous orphan: $refused")
      AnnIndexStore.compact(spark, "ship_half", vacuumOrphans = true)
      assert(spark.table(codesT).count() == rawBefore,
        "compaction must vacuum uncommitted batches")
      assert(rows(Similarity.searchFrozenIvfpq(spark.newSession(), sf,
        "ship_half")) == want)

      // and a COMMITTED append of codes without assignment (an
      // operator bug, not a crash) still trips the 4·|assign|=|codes|
      // audit — the committed-batch filter must not mask real damage.
      // The re-run must ALSO skip the crashed append's reserved id
      // (ADVICE r10: read from the pointer's high-water mark, never a
      // corpus scan) so the orphan's rows can never ride its commit.
      val assignEmpty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.table(liveTable("ship_half", "assign"))
          .drop("batch", "gen").schema)
      // re-create the crashed reservation (compact() above vacuumed
      // the orphan but the burnt id stays burnt in the pointer)
      val (genR, batchesR, hwmR) = FreezeStore.readPtrFull(spark, "ship_half").get
      assert(hwmR == 1L, "a crashed append's reserved id must survive compaction")
      AnnIndexStore.append(assignEmpty, codes4Df(), "ship_half")
      val (_, committed, hwm2) = FreezeStore.readPtrFull(spark, "ship_half").get
      assert(hwm2 == 2L && committed == Seq(0L, 2L),
        s"the re-run must issue a FRESH id past the orphan's (got " +
          s"hwm=$hwm2 committed=$committed)")
      assert(genR == gen0 && batchesR == batches0) // reservation is metadata-only
      val (_, _, ok2) = AnnIndexStore.verifyConsistency(spark, "ship_half")
      assert(!ok2, "the audit must flag committed codes without assignment")
    } finally FreezeStore.dropAll(spark, "ship_half")
  }

  test("generation-stamp audit detects a hand-mixed freeze") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_mix", buckets = 2)
    try {
      val (_, _, ok) = AnnIndexStore.verifyConsistency(spark, "ship_mix")
      assert(ok)
      // splice one component's files from a different snapshot: same
      // table NAME, foreign generation stamp (the versioned names
      // prevent accidental mixing; the stamp detects deliberate or
      // tooling-level file restores)
      val t = liveTable("ship_mix", "refined")
      val foreign = spark.createDataFrame(
        spark.sparkContext.parallelize(
          spark.table(t).withColumn("gen", lit(999L)).collect().toSeq),
        spark.table(t).schema)
      graft.sources.Bucketing.resetTable(spark, t)
      foreign.write.format("parquet").saveAsTable(t)
      val (_, _, ok2) = AnnIndexStore.verifyConsistency(spark, "ship_mix")
      assert(!ok2, "a component with a foreign generation stamp must flag")
    } finally FreezeStore.dropAll(spark, "ship_mix")
  }

  test("post-append search fails loudly when arrivals never landed in embeddings") {
    val basePred = col("vec_id") % 10 < 8
    Similarity.shipIvfpqIndex(spark, sf, "ship_cov", buckets = 2,
      corpusPred = basePred)
    try {
      val arrivals = Tables.embeddings(spark, sf).filter(!basePred)
        .select("vec_id", "label", "embedding")
      Similarity.appendToFrozenIndex(arrivals, "ship_cov")
      // the search's embeddings frame LACKS the appended vectors — the
      // rerank must refuse (ADVICE r9: it used to silently drop them
      // AND the in-corpus candidates they displaced from the top-20)
      val eStale = Tables.embeddings(spark, sf).filter(basePred)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
        .withColumn("nrm", qnorm2(col("qv")))
      val ex = intercept[Exception] {
        Similarity.searchFrozenIvfpqFrom(eStale, "ship_cov",
          col("vec_id") % 20 === 0).collect()
      }
      def msgs(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
      assert(msgs(ex).exists(_.contains("missing from embeddings")),
        s"expected the coverage guard, got: $ex")
    } finally FreezeStore.dropAll(spark, "ship_cov")
  }

  test("ship overwrites an orphaned warehouse directory from a dead JVM") {
    // the hazard: warehouse dirs persist across JVMs while the
    // session catalog is in-memory — a process that died between
    // write and drop leaves a location the next catalog doesn't own,
    // and saveAsTable then throws LOCATION_ALREADY_EXISTS instead of
    // overwriting (the bench hit exactly this on its second run)
    val loc = new java.io.File(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("ship_orphan_g1_coarse")))
    loc.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(loc, "junk.parquet").toPath, "not parquet".getBytes)
    try {
      Similarity.shipIvfpqIndex(spark, sf, "ship_orphan", buckets = 2)
      assert(Similarity.searchFrozenIvfpq(spark, sf, "ship_orphan").count() > 0)
    } finally FreezeStore.dropAll(spark, "ship_orphan")
    assert(!loc.exists() || loc.listFiles().isEmpty)
  }

  test("compaction crash mid-swap self-heals") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_crash", buckets = 2)
    try {
      val assignT = liveTable("ship_crash", "assign")
      val want = rows(spark.table(assignT).orderBy("vec_id"))
      // simulate a JVM death between the two renames: the live table
      // is gone, only the _precompact copy survives
      spark.sql(s"ALTER TABLE $assignT RENAME TO ${assignT}_precompact")
      AnnIndexStore.recover(spark, "ship_crash")
      assert(rows(spark.table(assignT).orderBy("vec_id")) == want,
        "recover() must restore the pre-compaction table")
      // and a full compact() over the recovered freeze still works
      // (it runs the same recovery at start)
      spark.sql(s"ALTER TABLE $assignT RENAME TO ${assignT}_precompact")
      AnnIndexStore.compact(spark, "ship_crash")
      assert(rows(spark.table(assignT).orderBy("vec_id")) == want,
        "compact() must self-heal before rewriting")
      val (na, nc, ok) = AnnIndexStore.verifyConsistency(spark, "ship_crash")
      assert(ok && nc == 4 * na)
    } finally FreezeStore.dropAll(spark, "ship_crash")
  }

  test("concurrent readPtr during re-freezes: no spurious heal, no torn read") {
    // VERDICT r10: readPtr's automatic recovery could observe the
    // mid-flip state (`ptr` renamed away, `ptr_old` present) and heal
    // BACKWARD while flipPtr was still running, making the writer's
    // second rename throw TableAlreadyExists. The per-name lock
    // serializes them: a reader hammering the pointer through three
    // concurrent re-freezes must only ever see a complete committed
    // state (monotone generation, batches present) and the writer
    // must never lose a commit.
    Similarity.shipIvfpqIndex(spark, sf, "ship_race", buckets = 2)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val lastGen = new java.util.concurrent.atomic.AtomicLong(0L)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            val (gen, batches, hwm) =
              FreezeStore.readPtrFull(spark, "ship_race").getOrElse(
                throw new IllegalStateException("pointer vanished mid-read"))
            if (gen < lastGen.get())
              throw new IllegalStateException(
                s"generation went backward: $gen < ${lastGen.get()} — a " +
                  "live flip was healed away")
            lastGen.set(gen)
            if (batches.isEmpty || hwm < batches.max)
              throw new IllegalStateException(s"torn pointer state: $batches/$hwm")
          } catch { case t: Throwable => errs.add(t); stop.set(true) }
        }
      })
      reader.start()
      try (1 to 3).foreach { _ =>
        Similarity.shipIvfpqIndex(spark, sf, "ship_race", buckets = 2)
      } finally { stop.set(true); reader.join(30000) }
      assert(errs.isEmpty, s"concurrent reads failed: ${errs.peek()}")
      assert(FreezeStore.readPtr(spark, "ship_race").get._1 == 4L,
        "all three concurrent re-freezes must have committed")
    } finally FreezeStore.dropAll(spark, "ship_race")
  }

  test("generation retention: a bound plan survives exactly `retain` re-freezes") {
    Similarity.shipIvfpqIndex(spark, sf, "ship_ret", buckets = 2)
    try {
      def genExists(gen: Long): Boolean =
        spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(
            FreezeStore.genTable("ship_ret", gen, "assign")))
      assert(genExists(1L))
      // first re-freeze: generation 1 is superseded but RETAINED —
      // a reader bound to it keeps answering (the default retain = 1)
      val bound = spark.newSession().table(
        FreezeStore.genTable("ship_ret", 1L, "assign"))
      val want = bound.count()
      Similarity.shipIvfpqIndex(spark, sf, "ship_ret", buckets = 2)
      assert(genExists(1L), "one re-freeze must retain the superseded generation")
      assert(bound.count() == want, "a bound plan survives one re-freeze")
      // second re-freeze: generation 1 falls out of the retention
      // window — the documented end of the bound plan's lifetime
      Similarity.shipIvfpqIndex(spark, sf, "ship_ret", buckets = 2)
      assert(!genExists(1L),
        "the second re-freeze must retire generation 1 (retain = 1)")
      assert(genExists(2L) && genExists(3L))
    } finally FreezeStore.dropAll(spark, "ship_ret")
  }

  test("frozen Bloom screen: a new session's verdicts equal d19; re-freeze is atomic") {
    Dedup.shipBloomIndex(spark, sf, "ship_bloom")
    val want = rows(Dedup.d19BloomScreen(spark, sf))
    spark.sharedState.cacheManager.clearCache()
    val s2 = spark.newSession()
    try {
      assert(rows(Dedup.d19ScreenFrozen(s2, sf, "ship_bloom")) == want,
        "frozen-filter screen must equal the in-memory d19 verdicts")

      // a reader bound before a re-freeze keeps its whole generation
      // (a new geometry probed against old words would mis-position
      // every bit test — the mixed-freeze hazard)
      val liveReader = Dedup.d19ScreenFrozen(s2, sf, "ship_bloom")
      liveReader.collect()
      Dedup.shipBloomIndex(spark, sf, "ship_bloom", bitsPerElem = 2L)
      assert(rows(liveReader) == want,
        "a live bloom reader must keep its generation across a re-freeze")
      spark.sharedState.cacheManager.clearCache()
      val refreshed = rows(Dedup.d19ScreenFrozen(spark.newSession(), sf,
        "ship_bloom"))
      // 2 bits/doc saturates the filter — verdict mass shifts, proving
      // the fresh load took the new generation whole
      assert(refreshed != want, "the re-freeze must be visible to new loads")
    } finally FreezeStore.dropAll(spark, "ship_bloom")
  }

  test("a corpus filter that holds out every PQ codebook seed fails the ship and names the filter") {
    // 2 000 vectors: the seeds are the multiples of 1999 div 64 + 1 = 32,
    // all of them multiples of 16
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-holdout").toString
    spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i => cos(col("id") * (i + 1)))
        .cast("array<float>").as("embedding"),
      (col("id") % 4).cast("int").as("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val name = s"ship_holdout_${System.nanoTime}"
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.shipIvfpqIndex(spark, dir, name, buckets = 2, corpusPred = col("vec_id") % 16 =!= 0)
      }
      // the filter as Spark prints it, then the seed rule it defeated
      assert(e.getMessage.contains("%(vec_id, 16)") && e.getMessage.contains("vec_id % 32 = 0"), e.getMessage)
      assert(FreezeStore.readPtr(spark, name).isEmpty, "no generation ships")
      // a hold-out that leaves the seeds in ships an index that answers
      Similarity.shipIvfpqIndex(spark, dir, name, buckets = 2, corpusPred = col("vec_id") % 16 =!= 1)
      assert(Similarity.searchFrozenIvfpq(spark, dir, name, queryPred = col("vec_id") % 16 === 1)
        .count() > 0)
    } finally FreezeStore.dropAll(spark, name)
  }
}
