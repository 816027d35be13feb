package graft

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The frozen Bloom screen's full lifecycle (round 17): freeze →
  * screen → saturation (the literal d22 aggregate) → mergeable
  * absorb (word-OR + hash append under the frozen geometry — never a
  * corpus re-read) → saturation-tripped geometry REBUILD (entirely
  * from the shipped hash part) → the streaming absorb-and-monitor
  * twin. */
class BloomLifecycleSpec extends SparkSpec {

  private val name = "bloomlc1"

  private def docsAll = Tables.documents(spark, sf).select("doc_id", "text")
  private def arrivals = docsAll.filter(col("doc_id") % 10 >= 8)

  test("frozen saturation equals the live d22 aggregate") {
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      Dedup.shipBloomIndex(spark, sf, name)
      val frozen = Dedup.bloomSaturationFrozen(spark, name)
        .collect().map(_.toString).toSeq
      val live = Dedup.d22BloomSaturation(spark, sf)
        .collect().map(_.toString).toSeq
      assert(frozen.nonEmpty && frozen == live,
        "frozen saturation must equal the oracle-gated live monitor")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("absorb merges arrivals under the frozen geometry; the hash guard stops replays") {
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      Dedup.shipBloomIndex(spark, sf, name)
      val s1 = Dedup.bloomSaturationFrozen(spark, name).head()
      assert(Dedup.absorbBloomArrivals(spark, arrivals, name).contains(2L))
      // absorbed arrivals are MEMBERS now: the screen reports every
      // arrival-slice doc as a dup (bits set AND hash present)
      val post = Dedup.d19ScreenFrozen(spark, sf, name)
      assert(post.filter(col("outcome") =!= "dup").count() == 0,
        "every absorbed arrival must screen as dup")
      // state grew, geometry did not (the absorb contract)
      val s2 = Dedup.bloomSaturationFrozen(spark, name).head()
      assert(s2.getAs[Long]("mbits") == s1.getAs[Long]("mbits"))
      assert(s2.getAs[Long]("n_hashes") > s1.getAs[Long]("n_hashes"))
      assert(s2.getAs[Long]("bits_set") >= s1.getAs[Long]("bits_set"))
      // a replayed batch adds nothing (the hash anti-join guard)
      assert(Dedup.absorbBloomArrivals(spark, arrivals, name).isEmpty)
      assert(Dedup.bloomSaturationFrozen(spark, name).head()
        .getAs[Long]("bits_set") == s2.getAs[Long]("bits_set"))
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("saturation trips the geometry rebuild from the hash part alone; dups survive") {
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      // 2 bits/doc: deliberately saturated at freeze (the qa05 curve's
      // degenerate setting), so the fill gate trips immediately
      Dedup.shipBloomIndex(spark, sf, name, bitsPerElem = 2L)
      val before = Dedup.bloomSaturationFrozen(spark, name).head()
      assert(before.getAs[Double]("fill_share") > 0.35,
        s"the 2-bit filter must start saturated (${before.getAs[Double]("fill_share")})")
      val dupsBefore = Dedup.d19ScreenFrozen(spark, sf, name)
        .filter(col("outcome") === "dup")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(Dedup.refreezeBloomIfSaturated(spark, name,
        maxFill = 0.35, bitsPerElem = 10L).contains(2L))
      val after = Dedup.bloomSaturationFrozen(spark, name).head()
      assert(after.getAs[Double]("fill_share") < 0.35,
        "the rebuilt geometry must relieve the saturation")
      assert(after.getAs[Long]("n_hashes") == before.getAs[Long]("n_hashes"),
        "the rebuild re-positions the SAME membership")
      // no false negatives across the rebuild: the dup set is exact
      // membership and must be invariant under any geometry
      val dupsAfter = Dedup.d19ScreenFrozen(spark, sf, name)
        .filter(col("outcome") === "dup")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(dupsAfter == dupsBefore,
        "the dup verdicts must survive the geometry rebuild exactly")
      // relieved filter: nothing trips a second rebuild
      assert(Dedup.refreezeBloomIfSaturated(spark, name,
        maxFill = 0.35).isEmpty)
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("streaming absorb twin: per-batch absorb + saturation rows, replay-exact state") {
    import spark.implicits._
    graft.sources.FreezeStore.dropAll(spark, name)
    val base = java.nio.file.Files.createTempDirectory("bloomabs").toString
    try {
      Dedup.shipBloomIndex(spark, sf, name)
      val half0 = arrivals.filter(col("doc_id") % 2 === 0)
      val half1 = arrivals.filter(col("doc_id") % 2 =!= 0)
      half0.coalesce(1).write.parquet(s"$base/in/p=0")
      half1.coalesce(1).write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      val api = new graft.api.Graft(spark, sf)
      api.streamingBloomAbsorb(stream, name, s"$base/out", s"$base/ckpt")
        .awaitTermination()
      // two absorbs landed: gen 1 -> 3, and the final batch's
      // saturation row equals the store's current read
      assert(graft.sources.FreezeStore.readPtr(spark, name)
        .map(_._1).contains(3L))
      assert(graft.sources.FreezeStore.listGens(spark, name) == Seq(2L, 3L))
      val last = spark.read.parquet(s"$base/out/batch=1")
        .collect().map(_.toString).toSeq
      val now = Dedup.bloomSaturationFrozen(spark, name)
        .collect().map(_.toString).toSeq
      assert(last == now, "batch 1's row must equal the live saturation")
      // fill share is monotone over the absorb stream
      val f0 = spark.read.parquet(s"$base/out/batch=0")
        .head().getAs[Double]("fill_share")
      val f1 = spark.read.parquet(s"$base/out/batch=1")
        .head().getAs[Double]("fill_share")
      assert(f1 >= f0)
      // and the screen sees every absorbed arrival as a member
      assert(Dedup.d19ScreenFrozen(spark, sf, name)
        .filter(col("outcome") =!= "dup").count() == 0)
    } finally {
      graft.sources.FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
