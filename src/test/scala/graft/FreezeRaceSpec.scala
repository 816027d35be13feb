package graft

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicReference

import graft.sources.{Bm25IndexStore, FreezeLease, FreezeStore}

/** Lease-guarded compaction (VERDICT r12 #4): compact used to be a
  * QUIESCE-BY-CONVENTION operation — an append racing it could land
  * data mid-rewrite and have it silently vacuumed as an "orphan".
  * With the whole compact window holding the family lease, the
  * append protocol's reserve/commit running under the same lease,
  * and the gate refusing ambiguous reserved-but-uncommitted ids by
  * default, a racing append now either lands intact or fails loudly
  * naming the holder — it never vanishes. A foreign process is
  * faithfully simulated by holding the family's lease file directly
  * (create-exclusive semantics are per-FILE — the FreezeLeaseSpec
  * rule). */
class FreezeRaceSpec extends SparkSpec {

  private def chunks(rows: Seq[(Long, Seq[String])]) =
    spark.createDataFrame(rows.map { case (ck, ts) =>
      (ck, ts.size.toLong, ts)
    }).toDF("ck", "n_tok", "t")

  private def wh = Paths.get(new java.net.URI(
    spark.conf.get("spark.sql.warehouse.dir")).getPath)

  test("append blocked behind a mid-compact lease fails LOUDLY; nothing vanishes") {
    val name = "race_fam1"
    FreezeStore.dropAll(spark, name)
    spark.conf.set("spark.graft.lease.waitMs", "300")
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"),
        2L -> Seq("alpha", "gamma"))), name, buckets = 2)
      val q = Seq(1 -> Seq("alpha", "beta"))
      val before = Bm25IndexStore.searchFrozen(spark, name, q).collect().toSeq
      // a FOREIGN process's compact holds the family lease for its
      // whole window — the racing append must fail at its reserve,
      // loudly, before ANY data lands
      val foreign = FreezeLease.tryAcquire(wh, name, "pid4242@compactor",
        staleMs = 600000).get
      val e = intercept[IllegalStateException] {
        Bm25IndexStore.append(chunks(Seq(10L -> Seq("alpha"))), name)
      }
      assert(e.getMessage.contains("pid4242@compactor"),
        s"the refusal must name the compacting holder: ${e.getMessage}")
      // nothing vanished, nothing half-landed: pointer AND search
      // results identical to before the attempt (no burnt id either —
      // the reserve never got the lease)
      assert(FreezeStore.readPtrFull(spark, name).contains((1L, Seq(0L), 0L)),
        "a refused append must not touch the pointer")
      assert(Bm25IndexStore.searchFrozen(spark, name, q).collect().toSeq
        == before, "a refused append must not change search results")
      foreign.release()
      // once the compactor finishes, the SAME append lands intact
      Bm25IndexStore.append(chunks(Seq(10L -> Seq("alpha"))), name)
      assert(Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
        .select("ck").collect().map(_.getLong(0)).toSet.contains(10L),
        "the retried append must be searchable")
    } finally {
      spark.conf.unset("spark.graft.lease.waitMs")
      FreezeStore.dropAll(spark, name)
    }
  }

  test("append arriving mid-compact BLOCKS until the lease clears, then lands") {
    val name = "race_fam2"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"))), name, buckets = 2)
      val foreign = FreezeLease.tryAcquire(wh, name, "pid4242@compactor",
        staleMs = 600000).get
      val releaser = new Thread(() => { Thread.sleep(1000); foreign.release() })
      releaser.start()
      // default waitMs (60s) exceeds the hold: the append WAITS the
      // compactor out instead of failing, then lands
      val t0 = System.nanoTime()
      Bm25IndexStore.append(chunks(Seq(10L -> Seq("alpha"))), name)
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      releaser.join(10000)
      assert(waitedMs >= 500,
        s"the append should have blocked on the lease (~1s), waited ${waitedMs}ms")
      val (gen, batches, _) = FreezeStore.readPtrFull(spark, name).get
      assert(gen == 1L && batches == Seq(0L, 1L),
        s"the blocked append must have committed after the hold: $batches")
      assert(Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
        .select("ck").collect().map(_.getLong(0)).toSet.contains(10L))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("real compact racing a real append: the append lands; compact succeeds or refuses loudly") {
    val name = "race_fam3"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"),
        2L -> Seq("alpha", "gamma"))), name, buckets = 2)
      // one committed append so the compact has batches to fold
      Bm25IndexStore.append(chunks(Seq(10L -> Seq("beta"))), name)
      val compactErr = new AtomicReference[Throwable]()
      val appendErr = new AtomicReference[Throwable]()
      val tA = new Thread(() =>
        try Bm25IndexStore.compact(spark, name)
        catch { case t: Throwable => compactErr.set(t) })
      val tB = new Thread(() =>
        try Bm25IndexStore.append(chunks(Seq(20L -> Seq("alpha"))), name)
        catch { case t: Throwable => appendErr.set(t) })
      tA.start(); tB.start()
      tA.join(120000); tB.join(120000)
      // the APPEND must always land: if compact grabbed the lease
      // first, the reserve waits it out (default 60s budget); if the
      // append reserved first, the compact's gate is what yields
      assert(appendErr.get() == null,
        s"the racing append must land: ${appendErr.get()}")
      assert(Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
        .select("ck").collect().map(_.getLong(0)).toSet.contains(20L),
        "the appended chunk must be searchable after the race")
      val (_, batches, hwm) = FreezeStore.readPtrFull(spark, name).get
      assert(batches.max == hwm, s"no id may stay half-reserved: $batches/$hwm")
      // the compact either completed (append waited at its reserve)
      // or refused LOUDLY at the ambiguity gate (append was between
      // reserve and commit) — never a silent vacuum
      Option(compactErr.get()).foreach { t =>
        assert(t.getMessage.contains("reserved but not committed"),
          s"a failed compact must be the loud gate, got: $t")
      }
    } finally FreezeStore.dropAll(spark, name)
  }

  test("compact refuses a reserved-but-uncommitted id by default; explicit vacuum folds it") {
    val name = "race_fam4"
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks(Seq(
        1L -> Seq("alpha", "beta"))), name, buckets = 2)
      // simulate an append that crashed after its reserve: burnt id,
      // no data, no commit
      val (gen, batches, hwm) = FreezeStore.readPtrFull(spark, name).get
      FreezeStore.flipPtr(spark, name, gen, batches, hwm = hwm + 1)
      val e = intercept[IllegalStateException] {
        Bm25IndexStore.compact(spark, name)
      }
      assert(e.getMessage.contains("reserved but not committed"),
        s"the default gate must refuse the ambiguity: ${e.getMessage}")
      // the operator verified writers are quiesced: explicit vacuum
      Bm25IndexStore.compact(spark, name, vacuumOrphans = true)
      assert(Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
        .count() == 1, "post-vacuum search serves the committed corpus")
    } finally FreezeStore.dropAll(spark, name)
  }
}
