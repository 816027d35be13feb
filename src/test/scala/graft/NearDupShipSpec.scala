package graft

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The frozen near-dup band index's full lifecycle (round 17):
  * freeze → probe → staleness (the literal d21 aggregate) → drift →
  * refreeze-by-MERGE (band state is mergeable — the one family whose
  * absorb never re-reads corpus text) → streaming twins across a
  * mid-stream refreeze. */
class NearDupShipSpec extends SparkSpec {

  private val name = "ndship1"

  private def docsAll = Tables.documents(spark, sf).select("doc_id", "text")
  private def corpus = docsAll.filter(col("doc_id") % 10 < 8)
  private def arrivalsSlice = docsAll.filter(col("doc_id") % 10 >= 8)
  private def novel = arrivalsSlice
    .select((col("doc_id") + 1000000L).as("doc_id"),
      reverse(col("text")).as("text"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("frozen staleness equals the live d21 aggregate; familiar arrivals are a no-op") {
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      Dedup.shipNearDupIndex(spark, sf, name)
      val frozen = rows(Dedup.nearDupStaleness(spark, arrivalsSlice, name))
      val live = rows(Dedup.d21BandDrift(spark, sf))
      assert(frozen.nonEmpty && frozen == live,
        s"frozen staleness must equal the oracle-gated live monitor")
      // the corpus's own docs re-presented: every bucket known
      val familiar = Dedup.nearDupStaleness(spark, corpus, name)
      assert(familiar.filter(col("n_new_buckets") =!= 0L).count() == 0)
      assert(familiar.filter(col("hit_share") =!= 1.0).count() == 0)
      assert(Dedup.refreezeNearDupIfStale(spark, corpus, name).isEmpty,
        "familiar arrivals must not trip the refreeze")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("drift -> refreeze merges the arrivals; the members guard stops double absorption") {
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      Dedup.shipNearDupIndex(spark, sf, name)
      val nv = novel
      // the novel batch lands drift mass in unseen buckets
      val drift = Dedup.nearDupStaleness(spark, nv, name)
        .agg(sum("n_new_buckets"), sum("n_arr_buckets")).head()
      assert(drift.getLong(0) > 0, "reversed text must open unseen buckets")
      val occ1 = spark.table(graft.sources.FreezeStore.genTable(name, 1, "bands"))
        .agg(sum("occ")).head().getLong(0)
      // trips and absorbs by ONE bucket merge — the batch carries
      // every row TWICE (the at-least-once shape): the intra-batch
      // dedup must keep occupancy exact
      assert(Dedup.refreezeNearDupIfStale(spark, nv.unionByName(nv), name)
        .contains(2L))
      assert(spark.table(graft.sources.FreezeStore.genTable(name, 2, "bands"))
        .agg(sum("occ")).head().getLong(0) ==
        occ1 + graft.operators.Dedup.prodBandRows(nv).count(),
        "a doubled batch must add each document's band rows ONCE")
      // absorbed arrivals: every bucket now known, nothing re-trips
      val after = Dedup.nearDupStaleness(spark, nv, name)
      assert(after.filter(col("n_new_buckets") =!= 0L).count() == 0,
        "absorbed arrivals must read fresh")
      assert(Dedup.refreezeNearDupIfStale(spark, nv, name).isEmpty,
        "already-absorbed arrivals must not re-trip")
      // and they now PROBE as near matches (their own buckets carry them)
      val matched = Dedup.nearMatchesFrozen(spark, nv, name)
      assert(matched.count() == graft.operators.Dedup.prodBandRows(nv)
        .select("doc_id").distinct().count(),
        "every absorbed arrival with shingles must self-match post-absorb")
      // forced third generation with a mixed batch: only the genuinely
      // fresh docs add occupancy (the members anti-join guard)
      val extra = arrivalsSlice
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("zq zx qz "), col("text")).as("text"))
      val occ2 = spark.table(graft.sources.FreezeStore.genTable(name, 2, "bands"))
        .agg(sum("occ")).head().getLong(0)
      assert(Dedup.refreezeNearDupIfStale(spark, nv.unionByName(extra), name,
        maxNewShare = 0.001).contains(3L))
      val occ3 = spark.table(graft.sources.FreezeStore.genTable(name, 3, "bands"))
        .agg(sum("occ")).head().getLong(0)
      val freshRows = graft.operators.Dedup.prodBandRows(extra).count()
      assert(occ3 == occ2 + freshRows,
        s"occupancy must grow by the FRESH band rows only ($occ2 + $freshRows vs $occ3)")
      // the superseded generation is retained for bound readers
      assert(spark.table(graft.sources.FreezeStore.genTable(name, 2, "bands"))
        .count() > 0)
      assert(graft.sources.FreezeStore.listGens(spark, name) == Seq(2L, 3L))
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("streaming twins: per-batch rows equal batch probe/staleness across a mid-stream refreeze") {
    import spark.implicits._
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = java.nio.file.Files.createTempDirectory("ndstream").toString
    try {
      Dedup.shipNearDupIndex(spark, sf, name)
      val slice0 = arrivalsSlice
      val slice1 = novel
      slice0.coalesce(1).write.parquet(s"$base/in/p=0")
      val api = new graft.api.Graft(spark, sf)
      def runOnce(kind: String): Unit = {
        val stream = spark.readStream.schema(slice0.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
        val q =
          if (kind == "match") api.streamingNearMatch(stream, name,
            s"$base/match", s"$base/ckpt_m")
          else api.streamingNearDupDrift(stream, name,
            s"$base/drift", s"$base/ckpt_d")
        q.awaitTermination()
      }
      runOnce("match"); runOnce("drift")
      val wantM0 = rows(Dedup.nearMatchesFrozen(spark, slice0, name))
      val wantD0 = rows(Dedup.nearDupStaleness(spark, slice0, name))
      // MID-STREAM REFREEZE: absorb the novel slice -> gen 2
      assert(Dedup.refreezeNearDupIfStale(spark, slice1, name).contains(2L))
      slice1.coalesce(1).write.mode("append").parquet(s"$base/in/p=1")
      runOnce("match"); runOnce("drift")
      val wantM1 = rows(Dedup.nearMatchesFrozen(spark, slice1, name))
      val wantD1 = rows(Dedup.nearDupStaleness(spark, slice1, name))
      assert(rows(spark.read.parquet(s"$base/match/batch=0")).sorted ==
        wantM0.sorted)
      assert(rows(spark.read.parquet(s"$base/match/batch=1")).sorted ==
        wantM1.sorted)
      assert(rows(spark.read.parquet(s"$base/drift/batch=0")).sorted ==
        wantD0.sorted)
      assert(rows(spark.read.parquet(s"$base/drift/batch=1")).sorted ==
        wantD1.sorted)
      // the pointer RE-BOUND: batch 1 grades against the gen-2 bucket
      // population (larger corpus side than batch 0's gen-1 read)
      val c0 = spark.read.parquet(s"$base/drift/batch=0")
        .agg(sum("n_corp_buckets")).head().getLong(0)
      val c1 = spark.read.parquet(s"$base/drift/batch=1")
        .agg(sum("n_corp_buckets")).head().getLong(0)
      assert(c1 > c0, s"batch 1 must read the absorbed generation ($c0 -> $c1)")
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
