package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import FreezeStore.genTable

/** The FROZEN CO-PURCHASE EDGE INDEX — the graph family's member of
  * the frozen-index lattice (dense ANN: [[AnnIndexStore]]; perceptual
  * media: [[MediaIndexStore]]; sparse text: [[Bm25IndexStore]]).
  * Ships the (x < y)-canonical corpus edge set g04 and the triangle
  * stream probe against ([[graft.operators.Graph.corpusEdgeIndex]] —
  * today rebuilt per session from the raw lineitem table), so
  * incremental triangle accounting reads a persisted index: probes
  * stay O(deg_corpus(x)) per arriving edge and the corpus pair
  * fan-out runs ONCE per freeze, never per session.
  *
  * One corpus-scale component per generation: `edges` (x, y),
  * BUCKETED by x — the probe join keys arrivals against x-incidence,
  * and arrivals are batch-sized (broadcast), so search IO is
  * adjacency-scaled, never corpus-scaled.
  *
  * VERSIONED like every frozen artifact ([[FreezeStore]]): each
  * freeze is a new generation committed by one atomic pointer flip
  * (+ cross-process lease); appends are reserve-then-commit batches
  * invisible until the pointer grows; bound readers survive `retain`
  * re-freezes; compact is the lease-held bucketed rewrite.
  *
  * The WHEN-to-refreeze loop (VERDICT r12 #6): [[staleness]] grades
  * arriving edges with the g05 banded degree-drift algebra
  * ([[graft.operators.Graph.degreeDriftBands]] — ONE definition with
  * the live key), and [[refreezeIfStale]] trips integer-exactly on
  * the unseen-endpoint share (edges landing on nodes the corpus has
  * never seen cannot close 1-new-edge triangles until a re-freeze —
  * the t20 unseen-vocabulary / mm12 band-miss analog).
  */
object GraphIndexStore {

  /** The persisted edge columns: (x, y) always; a weighted frame
    * (g07's re-rank corpus) also carries `w` — probes and the drift
    * monitor ignore it, the PageRank re-derivation reads it. */
  private def edgeCols(edges: DataFrame): Seq[org.apache.spark.sql.Column] =
    (Seq("x", "y") ++ (if (edges.columns.contains("w")) Seq("w") else Nil))
      .map(col)

  /** Freeze a canonical (x < y) edge frame as the new live
    * generation (optionally weighted — see [[edgeCols]]). Returns
    * the committed generation; the write is one
    * [[FreezeStore.commit]] body. */
  def freeze(edges: DataFrame, name: String, buckets: Int = 8,
             retain: Int = 1): Long =
    FreezeStore.commit(edges.sparkSession, name, retain) { gen =>
      Bucketing.writeBucketed(
        edges.select(edgeCols(edges): _*)
          .withColumn("batch", lit(0L)).withColumn("gen", lit(gen)),
        genTable(name, gen, "edges"), "x", buckets)
    }

  /** The live generation's COMMITTED edges (pointer resolved once —
    * a bound plan is wholly one generation). */
  def edges(spark: SparkSession, name: String): DataFrame = {
    val (gen, batches) = FreezeStore.live(spark, name)
    FreezeStore.part(spark, name, gen, batches, "edges")
  }

  /** Triangles the arriving (x < y)-canonical edges close against the
    * frozen corpus — the LITERAL g04 1-new-edge category / TriStream
    * probe algebra ([[graft.operators.Graph.closedByCorpus]]) over the
    * shipped table. Probe edges must not already be corpus edges (the
    * closedByCorpus contract — anti-join first, or use edges the
    * corpus never committed). Cost: O(deg_corpus(x)) per probe edge. */
  def closedFrozen(spark: SparkSession, probe: DataFrame,
                   name: String): DataFrame =
    graft.operators.Graph.closedByCorpus(probe, edges(spark, name))

  /** APPEND arriving edges (the absorb step): they land batch-stamped
    * through the one reserve-then-commit protocol
    * ([[FreezeStore.appendBatch]]) preserving the bucket layout, and
    * become part of the corpus every later probe closes against.
    * Arrivals must be canonical and not already present (the caller
    * anti-joins — [[graft.operators.Graph.g04IncrementalTriangles]]'s
    * own increment discipline). O(arrivals); never a corpus pass.
    * WEIGHTED families: an appended (x, y) the corpus already holds
    * is legal and ADDITIVE — batch rows carry their own weights and
    * weighted readers aggregate per (x, y) across batches (the g07
    * merge, [[graft.operators.Graph.mergedWeights]]); a
    * [[refreezeIfStale]] later collapses them physically. */
  def append(newEdges: DataFrame, name: String): Unit = {
    val spark = newEdges.sparkSession
    FreezeStore.appendBatch(spark, name) { (gen, batch) =>
      val t = genTable(name, gen, "edges")
      newEdges.select(edgeCols(newEdges): _*)
        .withColumn("batch", lit(batch)).withColumn("gen", lit(gen))
        .write.mode("append").format("parquet")
        .bucketBy(FreezeStore.bucketsOf(spark, t), "x").sortBy("x")
        .saveAsTable(t)
    }
  }

  /** STALENESS of the frozen corpus against an arriving edge batch —
    * the banded g05 degree-drift frame over the persisted edges (ONE
    * definition: [[graft.operators.Graph.degreeDriftBands]]). Band −1
    * is the unseen-node band. Cost: O(edges), the probes' own class. */
  def staleness(spark: SparkSession, arrivals: DataFrame,
                name: String): DataFrame =
    graft.operators.Graph.degreeDriftBands(edges(spark, name),
      arrivals.select("x", "y"))

  /** CLOSE THE DRIFT→REFREEZE LOOP for the graph family: when the
    * arrivals' unseen-endpoint share (edge ends on nodes absent from
    * the frozen corpus) exceeds `maxUnseenShare` — integer basis
    * points, cross-multiplied, no float edge — re-freeze over corpus
    * ∪ arrivals. Arrival edges the corpus already carries are dropped
    * defensively (the Bm25IndexStore double-submission guard), so the
    * append-then-monitor flow is idempotent. Returns the new
    * generation when it fired. */
  def refreezeIfStale(spark: SparkSession, arrivals: DataFrame, name: String,
                      maxUnseenShare: Double = 0.2, buckets: Int = 8,
                      retain: Int = 1): Option[Long] =
    // ONE lease hold across corpus read → drift grade → union →
    // freeze (ADVICE r13: with the pointer read outside the lease, an
    // append that reserved AND committed between that read and the
    // freeze's flip was silently dropped from the new generation —
    // the lost-update class appendBatch/compact already closed). The
    // nested freeze's own commit re-enters the same hold.
    FreezeStore.withFamilyLease(spark, name) {
    val corp = edges(spark, name)
    val corpNodes = corp.select(col("x").as("u"))
      .unionAll(corp.select(col("y").as("u"))).distinct()
    val arrInc = arrivals.select(col("x").as("u"))
      .unionAll(arrivals.select(col("y").as("u")))
    val t = arrInc
      .join(corpNodes.select(col("u"), lit(1L).as("seen")), Seq("u"), "left")
      .agg(count(lit(1)).as("n_end"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .head()
    val nEnd = t.getLong(0)
    val nUnseen = if (t.isNullAt(1)) 0L else t.getLong(1)
    val bp = math.round(maxUnseenShare * 10000)
    if (nEnd == 0L || nUnseen * 10000 <= bp * nEnd) None
    else if (corp.columns.contains("w")) {
      // weighted family (the g07 store): arrival edges MERGE —
      // weights on shared (x, y) pairs ADD (the g07 disjoint-slice
      // rule), so the anti-join absorb below would be wrong here
      // (it drops the weight an already-known edge gained). Arrivals
      // must carry their own weights.
      require(arrivals.columns.contains("w"),
        s"frozen edge family $name is weighted — arrivals need a w column")
      Some(freeze(
        corp.select(col("x"), col("y"), col("w"))
          .unionByName(arrivals.select(col("x"), col("y"), col("w")))
          .groupBy("x", "y").agg(sum(col("w")).as("w")),
        name, buckets, retain))
    } else {
      val fresh = arrivals.select("x", "y")
        .join(corp, Seq("x", "y"), "left_anti")
      Some(freeze(corp.unionByName(fresh), name, buckets, retain))
    }
  }

  /** COMPACT the live generation after a run of appends — the
    * lease-held crash-safe bucketed rewrite
    * ([[FreezeStore.compactTable]]); a reserved-but-uncommitted batch
    * id fails the gate unless `vacuumOrphans` (see
    * [[FreezeStore.compactGate]]). */
  def compact(spark: SparkSession, name: String,
              vacuumOrphans: Boolean = false): Unit =
    FreezeStore.withFamilyLease(spark, name) {
      val (gen, batches) = FreezeStore.compactGate(spark, name, vacuumOrphans)
      val t = genTable(name, gen, "edges")
      FreezeStore.recoverTable(spark, t)
      val buckets = FreezeStore.bucketsOf(spark, t)
      FreezeStore.compactTable(spark, t, batches, (df, staging) =>
        FreezeStore.withForcedBucketedScan(spark) {
          df.write.mode("overwrite").format("parquet")
            .bucketBy(buckets, "x").sortBy("x")
            .saveAsTable(staging)
        })
    }

  // ---- the COMMUNITY view (round 15 — g08/g09's frozen lifecycle):
  // a community family persists the RAW weighted pairs (no screen —
  // the screen is a derivation, and merged weights can push a pair
  // OVER it on refreeze) plus the contraction labels of the
  // weight-screened subgraph, both under one generation ----

  /** FREEZE the community view of a raw weighted canonical pair
    * frame (x, y, w): the pairs persist unscreened (bucketed by x),
    * the g08 contraction runs over the `minWeight`-screened subset
    * and its (node, label) frame persists bucketed by node — the
    * serving join key ([[communityBridges]] probes arrivals against
    * it, arrival-scaled). Returns the committed generation; one
    * family lease across train→write→flip (the freeze rule). */
  def freezeCommunities(pairs: DataFrame, name: String,
                        minWeight: Long =
                          graft.operators.Graph.CommunityMinWeight,
                        buckets: Int = 8, retain: Int = 1): Long =
    FreezeStore.commit(pairs.sparkSession, name, retain) { gen =>
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("batch", lit(0L)).withColumn("gen", lit(gen))
      // cached once (round-15 review fix): the bucketed raw write +
      // the contraction's two eager localCheckpoints would otherwise
      // evaluate the (expensive, per-order fan-out) pairs plan 3×
      val p = graft.operators.OpCache.cached(pairs.select("x", "y", "w"))
      Bucketing.writeBucketed(stamp(p), genTable(name, gen, "edges"), "x", buckets)
      val labels = graft.operators.Components.starContraction(
        p.filter(col("w") >= minWeight)
          .select(col("x").as("doc_a"), col("y").as("doc_b")))
      Bucketing.writeBucketed(stamp(labels.select("node", "label")),
        genTable(name, gen, "labels"), "node", buckets)
    }

  /** The live generation's committed community labels. Fails loudly
    * on an edge-only family (frozen via [[freeze]] — no labels). */
  def labels(spark: SparkSession, name: String): DataFrame = {
    val (gen, batches) = FreezeStore.live(spark, name)
    require(spark.catalog.tableExists(genTable(name, gen, "labels")),
      s"frozen family $name carries no community labels — freeze it " +
        "through freezeCommunities, not freeze")
    FreezeStore.part(spark, name, gen, batches, "labels")
  }

  /** g09's monitor served off the SHIPPED labels — the literal
    * [[graft.operators.Graph.bridgeBands]] algebra (one definition
    * with the live key and the streaming twin), classifying an
    * arriving (x, y, w) pair batch by its endpoints' frozen
    * communities. Arrival-scaled: two hint-free label joins + a
    * ≤4-row groupBy; never a corpus re-scan. */
  def communityBridges(spark: SparkSession, arrivals: DataFrame,
                       name: String): DataFrame =
    graft.operators.Graph.bridgeBands(arrivals, labels(spark, name))

  /** CLOSE THE DRIFT→REFREEZE LOOP for the community view: when the
    * arrivals' NON-intra edge share (bridge + attach + novel — the
    * mass the frozen partition fails to describe) exceeds
    * `maxOutsideShare` (integer basis points, cross-multiplied),
    * re-freeze over the weight-MERGED pair multiset: arrival weights
    * ADD to the persisted raw weights on the (x, y) key (the g07
    * disjoint-slice rule — and the reason the store persists
    * UNSCREENED pairs: a merge can push a sub-threshold pair OVER
    * the community screen, which a screened-only store could never
    * recover). The contraction re-runs over the merged, re-screened
    * graph. Returns the new generation when it fired. */
  def refreezeCommunitiesIfStale(spark: SparkSession, arrivals: DataFrame,
                                 name: String,
                                 maxOutsideShare: Double = 0.5,
                                 minWeight: Long =
                                   graft.operators.Graph.CommunityMinWeight,
                                 buckets: Int = 8,
                                 retain: Int = 1): Option[Long] =
    FreezeStore.withFamilyLease(spark, name) {
      val bands = communityBridges(spark, arrivals, name)
        .agg(coalesce(sum(col("n_edges")), lit(0L)).as("n"),
          coalesce(sum(when(col("kind") =!= "intra", col("n_edges"))),
            lit(0L)).as("outside")).head()
      val n = bands.getLong(0)
      val outside = bands.getLong(1)
      val bp = math.round(maxOutsideShare * 10000)
      if (n == 0L || outside * 10000 <= bp * n) None
      else Some(freezeCommunities(
        edges(spark, name).select("x", "y", "w")
          .unionByName(arrivals.select("x", "y", "w"))
          .groupBy("x", "y").agg(sum(col("w")).as("w")),
        name, minWeight, buckets, retain))
    }
}
