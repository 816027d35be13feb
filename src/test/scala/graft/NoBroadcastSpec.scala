package graft

import org.apache.spark.sql.DataFrame

/** Broadcast-independence: at 100 TB the frequency/dimension tables
  * outgrow the broadcast threshold and Catalyst must fall back to
  * shuffle joins. The queries that deliberately carry NO broadcast
  * hint (d10's span-df, t08/t11's term frequencies, q03's dims under
  * explicit broadcast()) must return IDENTICAL results either way —
  * this pins the "Catalyst picks the join strategy" claim with an
  * actual strategy flip, not just a comment. */
class NoBroadcastSpec extends SparkSpec {

  private def withNoBroadcast[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  for (name <- Seq("d10_dup_spans", "t08_unigram_lm", "t11_bigram_lm",
                   "q03_join_revenue", "d08_semantic_dedup",
                   "p01_curation", "p09_curation_strict",
                   // round 3: q29's cohort map is O(users), q30's
                   // spine cross-join degrades to a cartesian, q31's
                   // median/MAD joins flip to shuffles
                   "q29_retention", "q30_gap_fill", "q31_mad_outliers",
                   // round 4: the rank-vocabulary term→id join is
                   // hint-free (the vocab grows with the corpus) —
                   // d02 exercises it through signatures, d03 through
                   // simhashes
                   "d02_minhash_lsh", "d03_simhash",
                   // round 4b: d15's corpus-side hash/band joins and
                   // t15's cf join grow with the accepted corpus —
                   // both stay strategy-flexible
                   "d15_incremental_dedup", "t15_lm_buckets",
                   // round 8e: g01/g03's edge⋈adjacency and rank
                   // joins are hint-free (node-scaled frames); q43's
                   // supplier/customer/orders joins likewise —
                   // results must not depend on strategy choice
                   "g01_triangles", "g03_pagerank",
                   "q43_local_supplier", "g02_copurchase_jaccard",
                   "g04_incremental_triangles")) {
    test(s"$name: identical results with broadcasting disabled") {
      val fn = SparkEntry.queries(name)
      val default = rows(fn(spark, sf))
      val shuffled = withNoBroadcast {
        // fresh plan under the changed conf (cached persisted frames
        // keep their original plans — that is fine, the conf governs
        // join-strategy choice at planning time for this run)
        rows(fn(spark, sf))
      }
      assert(default == shuffled, s"$name diverges without broadcast joins")
    }
  }

  // round 9: the new queries' hint-free joins — q34 has none (pure
  // window algebra) but q40's max-ts cross join must stay a bounded
  // 1-row frame either way; the FROZEN search's candidates⋈codes
  // join is the newest corpus-growing hint-free join (bucketed both
  // sides) and must return identical rows when the loaded tables'
  // joins flip to shuffle strategies
  test("q40 + frozen search: identical results with broadcasting disabled") {
    // q45's HAVING join-backs and q46's anti join are also hint-free
    // corpus joins — same contract
    for (name <- Seq("q40_decayed_topk", "q45_big_orders",
                     "q46_dormant_customers")) {
      val default = rows(SparkEntry.queries(name)(spark, sf))
      val shuffled = withNoBroadcast {
        rows(SparkEntry.queries(name)(spark, sf))
      }
      assert(default == shuffled, s"$name diverges without broadcast joins")
    }

    graft.operators.Similarity.shipIvfpqIndex(spark, sf, "nb_frozen", buckets = 4)
    try {
      val d = rows(graft.operators.Similarity.searchFrozenIvfpq(spark, sf, "nb_frozen"))
      spark.sharedState.cacheManager.clearCache()
      val s = withNoBroadcast {
        rows(graft.operators.Similarity.searchFrozenIvfpq(spark, sf, "nb_frozen"))
      }
      assert(d == s, "frozen search diverges without broadcast joins")
    } finally graft.sources.FreezeStore.dropAll(spark, "nb_frozen")
  }

  // round 11: the media match's band/hash joins are hint-free (the
  // arrival side broadcasts while it fits, shuffles past that — the
  // claim the scale story rests on), q47's order-aggregate join-back
  // and q48's pair↔scalar join-back likewise; the FROZEN media match
  // must answer identically when its loaded-table joins flip
  test("media match + q47/q48: identical results with broadcasting disabled") {
    for (name <- Seq("mm11_incremental_match", "mm12_band_drift",
                     "q47_sole_fault", "q48_dominant_supplier")) {
      val default = rows(SparkEntry.queries(name)(spark, sf))
      val shuffled = withNoBroadcast {
        rows(SparkEntry.queries(name)(spark, sf))
      }
      assert(default == shuffled, s"$name diverges without broadcast joins")
    }

    val corp = graft.operators.Multimodal.mm09Phash(spark, sf)
      .select("doc_id", "h_hi", "h_lo")
    graft.sources.FreezeStore.dropAll(spark, "nb_media")
    try {
      graft.sources.MediaIndexStore.freeze(corp, "nb_media")
      val arr = corp.filter(org.apache.spark.sql.functions.col("doc_id") < 20)
      val d = rows(graft.sources.MediaIndexStore
        .matchFrozen(spark, arr, "nb_media", maxHamming = 0)
        .orderBy("doc_id", "match_id"))
      val s = withNoBroadcast {
        rows(graft.sources.MediaIndexStore
          .matchFrozen(spark, arr, "nb_media", maxHamming = 0)
          .orderBy("doc_id", "match_id"))
      }
      assert(d.nonEmpty && d == s,
        "frozen media match diverges without broadcast joins")
    } finally graft.sources.FreezeStore.dropAll(spark, "nb_media")
  }

  // round 11c: the new TPC-H shapes' corpus-scale joins are hint-free
  // — q50's customer⋈order-counts left join, q51's pruned
  // parts⋈lineitem join, q55's pair⋈part join, q57's three-leg profit
  // join, q60's pair-aggregate join-backs — results must not depend
  // on Catalyst's strategy pick
  test("q50/q51/q55/q57/q60: identical results with broadcasting disabled") {
    for (name <- Seq("q50_order_counts", "q51_small_qty_revenue",
                     "q55_part_variety", "q57_profit",
                     "q60_cheapest_supplier")) {
      val default = rows(SparkEntry.queries(name)(spark, sf))
      val shuffled = withNoBroadcast {
        rows(SparkEntry.queries(name)(spark, sf))
      }
      assert(default == shuffled, s"$name diverges without broadcast joins")
    }
  }
}
