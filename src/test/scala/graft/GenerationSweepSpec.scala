package graft

import graft.sources.{Bm25IndexStore, FreezeStore, MediaIndexStore}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Retention sweeps retire a generation WHOLE: the staging tables an
  * aborted or crashed [[FreezeStore.compactTable]] leaves beside a
  * component (`<part>_compacting` when the staging write throws or
  * the lease check aborts the swap, `<part>_precompact` when the
  * process dies between the swap's renames) belong to that
  * generation and must go with it — otherwise their tables and
  * warehouse directories outlive every freeze and [[FreezeStore.listGens]]
  * reports the retired generation forever. */
class GenerationSweepSpec extends SparkSpec {

  /** Leave a by-hand copy of `part`'s gen-1 table under `suffix` —
    * the table an interrupted compaction of that generation leaves —
    * and return its warehouse location. */
  private def strand(name: String, part: String, suffix: String): java.net.URI = {
    val t = FreezeStore.genTable(name, 1, part) + suffix
    spark.table(FreezeStore.genTable(name, 1, part))
      .write.format("parquet").saveAsTable(t)
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location
  }

  private def assertRetiredWhole(name: String, stranded: Seq[java.net.URI]): Unit = {
    assert(FreezeStore.listGens(spark, name) == Seq(2L, 3L))
    val left = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(s"${name}_g1_"))
    assert(left.isEmpty, s"retired generation 1 left tables behind: $left")
    stranded.foreach(loc =>
      assert(!new java.io.File(loc.getPath).exists(),
        s"retired generation 1 left its warehouse directory $loc"))
  }

  test("bm25 re-freezes retire a generation's compaction staging tables") {
    val name = "sweepbm25"
    val chunks = spark.createDataFrame(Seq(
      (1L, 2L, Seq("alpha", "beta")), (2L, 2L, Seq("alpha", "gamma"))))
      .toDF("ck", "n_tok", "t")
    FreezeStore.dropAll(spark, name)
    try {
      Bm25IndexStore.freeze(chunks, name)
      val stranded = Seq(strand(name, "postings", "_compacting"),
        strand(name, "lens", "_precompact"))
      Bm25IndexStore.freeze(chunks, name, retain = 1)
      Bm25IndexStore.freeze(chunks, name, retain = 1)
      assertRetiredWhole(name, stranded)
      assert(Bm25IndexStore.searchFrozen(spark, name, Seq(1 -> Seq("alpha")))
        .count() == 2L, "the live generation still serves")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("a mixed-case family name retires and drops its generations") {
    // the catalog stores table names lower-cased; the sweep and
    // dropAll must still find the family's tables
    val name = "SweepCase"
    val chunks = spark.createDataFrame(Seq((1L, 1L, Seq("alpha"))))
      .toDF("ck", "n_tok", "t")
    FreezeStore.dropAll(spark, name)
    try {
      (1 to 3).foreach(_ => Bm25IndexStore.freeze(chunks, name, retain = 1))
      assert(FreezeStore.listGens(spark, name) == Seq(2L, 3L))
      FreezeStore.dropAll(spark, name)
      assert(spark.sessionState.catalog.listTables("default").map(_.table)
        .forall(!_.startsWith("sweepcase_")))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("media re-freezes retire a generation's compaction staging tables") {
    val name = "sweepmedia"
    val hashes = spark.range(0, 20).select(col("id").as("doc_id"),
      (col("id") * 7919L).as("h_hi"), (col("id") * 104729L).as("h_lo"))
    FreezeStore.dropAll(spark, name)
    try {
      MediaIndexStore.freeze(hashes, name)
      val stranded = Seq(strand(name, "hash", "_compacting"))
      MediaIndexStore.freeze(hashes, name, retain = 1)
      MediaIndexStore.freeze(hashes, name, retain = 1)
      assertRetiredWhole(name, stranded)
    } finally FreezeStore.dropAll(spark, name)
  }
}
