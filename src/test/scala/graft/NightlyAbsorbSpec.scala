package graft

import graft.operators.{Dedup, Pipeline}
import graft.sources.{FreezeStore, Tables}
import org.apache.spark.sql.functions._

/** p30 — two consecutive nightlies with the absorb between (round
  * 18, VERDICT r17 #1: the serve → absorb survivors → serve loop).
  * Pins, each against an INDEPENDENT formulation:
  *
  *  1. night 1's absorb advances exactly the two MERGEABLE stores
  *     (bloom, near) one generation; classifier/tokenizer stay put;
  *  2. a REPLAY of night 1's survivors is dropped WHOLE by night 2's
  *     exact screen, each with exact_match naming the survivor
  *     itself (the d15 evidence rule) — yesterday's admission is
  *     today's screen;
  *  3. a CLONE of a night-1 survivor under a fresh night-2 doc_id is
  *     dropped with exact_match naming the night-1 survivor;
  *  4. night 2's served rows equal the independent set algebra:
  *     gate-keeps minus exact(corpus ∪ s1) minus near(corpus ∪ s1),
  *     with the near side cross-checked against the oracle-gated
  *     LIVE band pipeline (batchCandidates), not the store;
  *  5. re-absorbing the same survivors is a no-op (None, None) —
  *     an at-least-once nightly scheduler cannot double-admit.
  *
  * The DuckDB hash gate (p30_nightly_absorb) pins the same two-night
  * composition cross-engine at three SFs; this spec pins it against
  * the engine's own independent operators plus the store lifecycle
  * facts the SQL cannot see (generations, no-op absorbs, evidence
  * columns). */
class NightlyAbsorbSpec extends SparkSpec {

  private def gen(name: String): Long =
    FreezeStore.readPtr(spark, name).map(_._1).getOrElse(0L)

  test("p30: night 2 screens against night 1's absorbed survivors") {
    val ns = "p30t"
    val docs = Tables.documents(spark, sf)
    try {
      val api = new graft.api.Graft(spark, sf)
      Pipeline.p29Prepare(spark, sf, ns = ns)
      assert(gen(s"${ns}_bloom") == 1L && gen(s"${ns}_near") == 1L)

      val night1 = docs.filter(col("doc_id") % 10 === 8)
        .select("doc_id", "source", "text")
      // the per-batch serve routed through the facade (parity leg)
      val s1 = api.frozenCurationServeBatch(night1, ns = ns).collect()
      assert(s1.nonEmpty, "night 1 must ship survivors")
      val s1Ids = s1.map(_.getLong(0)).toSet
      val s1Docs = night1.select("doc_id", "text")
        .filter(col("doc_id").isin(s1Ids.toSeq: _*))

      // 1. absorb advances bloom + near one generation each; the
      //    chaining-state stores are untouched by admission
      val (clsG, tokG) = (gen(s"${ns}_cls"), gen(s"${ns}_tok"))
      // the admission routed through the facade (parity leg)
      val (bg, ng) = api.frozenCurationAbsorb(s1Docs, ns)
      assert(bg.contains(2L) && ng.contains(2L),
        s"absorb must land generation 2 on both mergeable stores ($bg, $ng)")
      assert(gen(s"${ns}_cls") == clsG && gen(s"${ns}_tok") == tokG,
        "admission must not move the classifier/tokenizer")

      // 2. a replayed survivor batch is dropped WHOLE by the exact
      //    screen, each row carrying itself as the evidence match
      val replay = Dedup.bloomScreenFrozen(spark, s1Docs, s"${ns}_bloom")
        .collect()
      assert(replay.map(_.getLong(0)).toSet == s1Ids)
      replay.foreach { r =>
        assert(r.getString(3) == "dup",
          s"replayed survivor ${r.getLong(0)} must screen as dup")
        // the evidence names an ADMITTED survivor (itself, unless an
        // identical-text survivor with a smaller id was admitted —
        // the absorb keeps min(doc_id) per hash)
        assert(s1Ids(r.getLong(2)) && r.getLong(2) <= r.getLong(0),
          s"evidence ${r.getLong(2)} must be an admitted survivor")
      }
      assert(Pipeline.p29ServeBatch(spark,
          night1.filter(col("doc_id").isin(s1Ids.toSeq: _*)), ns = ns)
        .isEmpty, "a full replay nightly must ship zero survivors")

      // 3. a fresh-id clone of a night-1 survivor is dropped with the
      //    survivor as evidence
      import spark.implicits._
      val sv = s1Docs.orderBy("doc_id").head()
      val cloneId = 1000000009L
      val clone = Seq((cloneId, sv.getString(1))).toDF("doc_id", "text")
      val cloneRow = Dedup.bloomScreenFrozen(spark, clone, s"${ns}_bloom")
        .head()
      assert(cloneRow.getString(3) == "dup" &&
        cloneRow.getLong(2) == sv.getLong(0),
        s"clone must screen as dup of survivor ${sv.getLong(0)}")

      // 4. night 2's rows == the independent set algebra over
      //    corpus ∪ s1
      val night2 = docs.filter(col("doc_id") % 10 === 9)
        .select("doc_id", "source", "text")
      val out = Pipeline.p30Night2Serve(spark, sf, ns = ns).collect()
      val keep = graft.sources.ClassifierStore
        .scoreFrozen(spark, night2.select("doc_id", "text"), s"${ns}_cls")
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val admitted = (c: org.apache.spark.sql.Column) =>
        c % 10 < 8 || c.isin(s1Ids.toSeq: _*)
      val exactDups = hashed.filter(col("doc_id") % 10 === 9)
        .join(hashed.filter(admitted(col("doc_id")))
          .select(col("h")).distinct(), Seq("h"), "left_semi")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val nearDups = graft.streaming.NearDupStream
        .batchCandidates(docs.select("doc_id", "text"))
        .collect().flatMap { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          def adm(x: Long) = x % 10 < 8 || s1Ids(x)
          if (a % 10 == 9 && adm(b)) Some(a)
          else if (b % 10 == 9 && adm(a)) Some(b)
          else None
        }.toSet
      assert(out.map(_.getLong(0)).toSet == (keep -- exactDups -- nearDups),
        "night-2 survivors must equal gate-keeps minus the absorbed screens")

      // 5. replay-exact absorb: nothing fresh → no new generation
      assert(Pipeline.p29Absorb(spark, s1Docs, ns) == (None, None),
        "re-absorbing the same survivors must be a no-op")
      assert(api.absorbNearDupIndex(s1Docs, s"${ns}_near").isEmpty,
        "the facade's unconditional band absorb must no-op too")
      assert(gen(s"${ns}_bloom") == 2L && gen(s"${ns}_near") == 2L)
    } finally {
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_cls")
      FreezeStore.dropAll(spark, s"${ns}_bloom")
      FreezeStore.dropAll(spark, s"${ns}_near")
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_tok")
    }
  }

  test("nightly stream: per-batch serve+absorb, exactly-once under replay") {
    import spark.implicits._
    val ns = "p30s"
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("nightly").toString
    try {
      Pipeline.p29Prepare(spark, sf, ns = ns)
      val night1 = docs.filter(col("doc_id") % 10 === 8)
        .select("doc_id", "source", "text")
      // batch-0 expectation collected BEFORE the stream absorbs (the
      // mid-stream-refreeze spec rule: observe gen-1 answers first)
      val want0Rows = Pipeline.p29ServeBatch(spark, night1, ns = ns).collect()
      val want0 = want0Rows.map(_.toString).sorted
      val s1Ids = want0Rows.map(_.getLong(0)).toSet
      // batch 1 = the night-2 slice PLUS a fresh-id clone of a
      // night-1 survivor — the stream must drop the clone because
      // batch 0's absorb admitted its text
      val sv = night1.filter(col("doc_id").isin(s1Ids.toSeq: _*))
        .orderBy("doc_id").head()
      val cloneId = 1000000009L
      val night2 = docs.filter(col("doc_id") % 10 === 9)
        .select("doc_id", "source", "text")
        .unionByName(Seq((cloneId, sv.getString(1), sv.getString(2)))
          .toDF("doc_id", "source", "text"))
      night1.coalesce(1).write.parquet(s"$base/in/p=0")
      night2.coalesce(1).write.parquet(s"$base/in/p=1")
      val api = new graft.api.Graft(spark, sf)
      def runOnce(ckpt: String): Unit = {
        val stream = spark.readStream.schema(night1.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
        api.streamingNightly(stream, ns, s"$base/out", ckpt)
          .awaitTermination()
      }
      // ONE AvailableNow run: batch 0 serves gen 1 and absorbs,
      // batch 1 then serves the absorbed generation
      runOnce(s"$base/ckpt1")
      val got0 = spark.read.parquet(s"$base/out/batch=0")
        .collect().map(_.toString).sorted
      assert(got0.toSeq == want0.toSeq,
        "batch 0 must equal the pre-absorb batch serve")
      val got1 = spark.read.parquet(s"$base/out/batch=1")
        .collect().map(_.toString).sorted
      // the batch twin CANNOT be re-evaluated on this family (batch
      // 1's own absorb admitted its survivors — a re-serve screens
      // them as dups of themselves); the twin is the p30 key run on
      // an INDEPENDENT family: training is deterministic, the clone
      // is dropped pre-pack, so night 2's packed rows must match
      // bit-for-bit across families
      val want1 =
        try Pipeline.p30NightlyAbsorb(spark, sf)
          .collect().map(_.toString).sorted
        finally {
          graft.sources.FreezeStore.dropAll(spark, "p30_cls")
          FreezeStore.dropAll(spark, "p30_bloom")
          FreezeStore.dropAll(spark, "p30_near")
          graft.sources.FreezeStore.dropAll(spark, "p30_tok")
        }
      assert(got1.toSeq == want1.toSeq,
        "batch 1 must equal the independent two-night key's night-2 rows")
      assert(!got1.exists(_.contains(cloneId.toString)),
        "the survivor clone must be screened by batch 0's admission")
      val gens = (FreezeStore.readPtr(spark, s"${ns}_bloom").get._1,
        FreezeStore.readPtr(spark, s"${ns}_near").get._1)
      // REPLAY: a fresh checkpoint re-runs both batches against the
      // already-committed outputs — without the canonical-survivor
      // replay path, batch 0's recomputed serve would screen its own
      // admissions and overwrite the correct rows with zero survivors
      runOnce(s"$base/ckpt2")
      assert(spark.read.parquet(s"$base/out/batch=0")
        .collect().map(_.toString).sorted.toSeq == want0.toSeq,
        "replay must not disturb batch 0's committed pack")
      assert(spark.read.parquet(s"$base/out/batch=1")
        .collect().map(_.toString).sorted.toSeq == want1.toSeq,
        "replay must not disturb batch 1's committed pack")
      assert((FreezeStore.readPtr(spark, s"${ns}_bloom").get._1,
        FreezeStore.readPtr(spark, s"${ns}_near").get._1) == gens,
        "replayed absorbs must be no-ops (no new generations)")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_cls")
      FreezeStore.dropAll(spark, s"${ns}_bloom")
      FreezeStore.dropAll(spark, s"${ns}_near")
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_tok")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("p29 maintain: each family's own policy fires independently") {
    val ns = "p30m"
    val docs = Tables.documents(spark, sf)
    try {
      Pipeline.p29Prepare(spark, sf, ns = ns)
      val corpus = docs.filter(col("doc_id") % 10 < 8)
        .select("doc_id", "text")
      val api = new graft.api.Graft(spark, sf)
      // CALM leg: the corpus re-presented as arrivals — zero unseen
      // tokens, zero compression drift, all band buckets known, and
      // the fresh 10-bits/elem filter sits at ~0.26 fill < 0.35 —
      // every policy must HOLD and no generation may move
      val calm = api.frozenCurationMaintain(corpus, ns).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(calm == Map("classifier" -> false, "tokenizer" -> false,
        "bloom" -> false, "neardup" -> false),
        s"familiar arrivals must not trip any policy ($calm)")
      assert(Seq("cls", "tok", "bloom", "near")
        .forall(p => gen(s"${ns}_$p") == 1L))
      // FORCED leg: reversed-text arrivals under fresh ids — novel
      // vocabulary (classifier/tokenizer retrain), novel buckets
      // (band absorb); the Bloom fill is untouched by a
      // monitor-only pass, so even a tight threshold holds it
      val novel = corpus
        .select((col("doc_id") + 3000000L).as("doc_id"),
          reverse(col("text")).as("text"))
      val rep = Pipeline.p29Maintain(spark, sf, novel, ns,
          maxUnseenShare = 0.0001, maxRatioDrift = 0.0001,
          maxNewShare = 0.0001).collect()
      val fired = rep.map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(fired == Map("classifier" -> true, "tokenizer" -> true,
        "bloom" -> false, "neardup" -> true),
        s"novel arrivals must trip exactly the vocabulary/band " +
          s"policies ($fired)")
      rep.foreach { r =>
        if (r.getBoolean(1)) assert(r.getLong(2) == 2L,
          s"${r.getString(0)} must report its new generation")
        else assert(r.isNullAt(2),
          s"${r.getString(0)} held — new_gen must be null")
      }
      // serving continuity: the nightly serves straight through the
      // refrozen generations (wholly-one-generation per family)
      val night2 = docs.filter(col("doc_id") % 10 === 9)
        .select("doc_id", "source", "text")
      val served = Pipeline.p29ServeBatch(spark, night2, ns = ns)
        .collect()
      assert(served.forall(_.getLong(0) % 10 == 9),
        "the post-maintain serve must run against the new generations")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_cls")
      FreezeStore.dropAll(spark, s"${ns}_bloom")
      FreezeStore.dropAll(spark, s"${ns}_near")
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_tok")
    }
  }

  test("nightly stream: a crash between write and absorb recovers") {
    // the scaladoc's middle crash window, pinned: the pack committed
    // but the process died BEFORE the absorb — on restart the
    // handler must take the canonical-survivor path (no re-serve, no
    // overwrite) and complete ONLY the admission
    val ns = "p30c"
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("nightlyc").toString
    try {
      Pipeline.p29Prepare(spark, sf, ns = ns)
      val night1 = docs.filter(col("doc_id") % 10 === 8)
        .select("doc_id", "source", "text")
      // simulate the crashed nightly: the serve's pack lands under
      // batch=0 exactly as the stream would write it, but no absorb
      val packed = Pipeline.p29ServeBatch(spark, night1, ns = ns)
      packed.write.mode("overwrite").format("parquet")
        .save(s"$base/out/batch=0")
      val want0 = spark.read.parquet(s"$base/out/batch=0")
        .collect().map(_.toString).sorted
      assert(gen(s"${ns}_bloom") == 1L && gen(s"${ns}_near") == 1L,
        "the crash left the stores un-admitted")
      // restart: the stream re-processes the batch over the
      // committed directory
      night1.coalesce(1).write.parquet(s"$base/in/p=0")
      val stream = spark.readStream.schema(night1.schema)
        .parquet(s"$base/in/p=*")
      new graft.api.Graft(spark, sf)
        .streamingNightly(stream, ns, s"$base/out", s"$base/ckpt")
        .awaitTermination()
      assert(spark.read.parquet(s"$base/out/batch=0")
        .collect().map(_.toString).sorted.toSeq == want0.toSeq,
        "recovery must not disturb the committed pack")
      assert(gen(s"${ns}_bloom") == 2L && gen(s"${ns}_near") == 2L,
        "recovery must complete the missing admission")
      // and the admission is real: a replayed survivor screens dup
      val sIds = spark.read.parquet(s"$base/out/batch=0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val replay = Dedup.bloomScreenFrozen(spark,
        night1.filter(col("doc_id").isin(sIds.toSeq: _*))
          .select("doc_id", "text"), s"${ns}_bloom")
      assert(replay.filter(col("outcome") =!= "dup").count() == 0,
        "recovered admission must screen a survivor replay whole")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_cls")
      FreezeStore.dropAll(spark, s"${ns}_bloom")
      FreezeStore.dropAll(spark, s"${ns}_near")
      graft.sources.FreezeStore.dropAll(spark, s"${ns}_tok")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
