package graft

import graft.operators.Graph
import graft.sources.{FreezeStore, GraphIndexStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The frozen co-purchase edge index (VERDICT r12 #6): frozen probes
  * equal the live closedByCorpus algebra over the same frames,
  * appends absorb arrivals through the reserve-then-commit protocol,
  * the staleness read is the g05 banded drift over the persisted
  * edges, and the drift→refreeze loop trips integer-exactly on the
  * unseen-endpoint share — completing the freeze/append/search/
  * monitor/refreeze lattice for the fourth family (dense ANN, media,
  * sparse text, GRAPH). */
class GraphShipSpec extends SparkSpec {

  private def edgesDf(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("x", "y")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("frozen probe equals the live closedByCorpus over the corpus edge set") {
    val name = "graphfr1"
    FreezeStore.dropAll(spark, name)
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      val old = Graph.corpusEdgeIndex(spark, sf)
      val probe = Graph.orderPairs(li.filter(col("l_orderkey") % 10 >= 8))
        .join(old, Seq("x", "y"), "left_anti")
      GraphIndexStore.freeze(old, name, buckets = 4)
      val want = rows(Graph.closedByCorpus(probe, old))
      val got = rows(GraphIndexStore.closedFrozen(spark, probe, name))
      assert(want.nonEmpty, "fixture must close some corpus triangles")
      assert(got == want,
        s"frozen probe != live closedByCorpus (${got.length} vs ${want.length})")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("append absorbs arrivals: post-append probes close against the grown corpus") {
    val name = "graphfr2"
    FreezeStore.dropAll(spark, name)
    try {
      // corpus: a triangle-free path 1-2-3; arrivals add 1-3 (closing
      // nothing as corpus YET) plus a hub edge
      GraphIndexStore.freeze(edgesDf(Seq(1L -> 2L, 2L -> 3L)), name, buckets = 2)
      // probe 1-3 against the frozen corpus: closes the 1-2-3 wedge
      assert(rows(GraphIndexStore.closedFrozen(spark, edgesDf(Seq(1L -> 3L)), name))
        == Seq("[1,3,2]"), "the wedge must close via corpus node 2")
      // absorb 1-3; a later probe 2-4 has no closure, but 3-4 then 2-4…
      GraphIndexStore.append(edgesDf(Seq(1L -> 3L, 3L -> 4L)), name)
      val (gen, batches) = FreezeStore.readPtr(spark, name).get
      assert(gen == 1L && batches == Seq(0L, 1L),
        s"the append must commit batch 1: $batches")
      // probe 2-4: corpus now holds 2-3 and 3-4 → closes through 3
      assert(rows(GraphIndexStore.closedFrozen(spark, edgesDf(Seq(2L -> 4L)), name))
        == Seq("[2,4,3]"), "post-append probes must see the absorbed edges")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("staleness over the persisted edges equals the live g05 drift core") {
    val name = "graphfr3"
    FreezeStore.dropAll(spark, name)
    try {
      val old = Graph.corpusEdgeIndex(spark, sf)
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      val arrivals = Graph.orderPairs(li.filter(col("l_orderkey") % 10 >= 8))
        .join(old, Seq("x", "y"), "left_anti")
      GraphIndexStore.freeze(old, name, buckets = 4)
      val want = rows(Graph.degreeDriftBands(old, arrivals))
      val got = rows(GraphIndexStore.staleness(spark, arrivals, name))
      assert(want.nonEmpty && got == want,
        "the frozen staleness read must equal the live banded drift")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("drift → refreeze: unseen-endpoint share trips it; the new generation absorbs") {
    val name = "graphfr4"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freeze(edgesDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)),
        name, buckets = 2)
      // in-corpus arrivals: 0/2 unseen endpoints → no trip
      assert(GraphIndexStore.refreezeIfStale(spark, edgesDf(Seq(1L -> 3L)),
        name, maxUnseenShare = 0.2).isEmpty)
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))
      // empty arrivals: a no-op, not a divide-by-zero
      assert(GraphIndexStore.refreezeIfStale(spark,
        edgesDf(Seq(1L -> 2L)).filter(lit(false)), name).isEmpty)

      // bind a reader to generation 1 — a probe that genuinely
      // closes (the 2-3-4 wedge), so survival is non-vacuous
      val bound = GraphIndexStore.closedFrozen(spark, edgesDf(Seq(2L -> 4L)), name)
      val before = rows(bound)
      assert(before == Seq("[2,4,3]"))

      // novel-node arrivals: 10-11, 11-12 → 4/4 endpoints unseen → trip
      val fired = GraphIndexStore.refreezeIfStale(spark,
        edgesDf(Seq(10L -> 11L, 11L -> 12L)), name, maxUnseenShare = 0.2)
      assert(fired.contains(2L), s"novel nodes must trigger gen 2: $fired")
      // the bound reader answers through the automated flip
      assert(rows(bound) == before,
        "a gen-1-bound reader must survive the refreeze")
      // a fresh probe closes against the absorbed arrivals (10-12
      // wedge through 11) and the old corpus stays whole
      assert(rows(GraphIndexStore.closedFrozen(spark,
        edgesDf(Seq(10L -> 12L)), name)) == Seq("[10,12,11]"),
        "the refreeze must absorb the novel edges")
      assert(rows(GraphIndexStore.closedFrozen(spark,
        edgesDf(Seq(2L -> 4L)), name)) == before,
        "the refreeze must keep the old corpus whole")
      assert(FreezeStore.listGens(spark, name) == Seq(1L, 2L))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("refreeze after append of the SAME arrivals: absorbed edges not frozen twice") {
    val name = "graphfr5"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freeze(edgesDf(Seq(1L -> 2L)), name, buckets = 2)
      val arrivals = edgesDf(Seq(10L -> 11L, 11L -> 12L))
      GraphIndexStore.append(arrivals, name)
      val fired = GraphIndexStore.refreezeIfStale(spark, arrivals, name,
        maxUnseenShare = 0.2)
      // the appended endpoints are corpus now — the monitor reads
      // them as seen, so the same batch cannot re-trip (idempotent
      // append-then-monitor flow)
      assert(fired.isEmpty,
        s"already-absorbed arrivals must not re-trip the refreeze: $fired")
      // and a genuinely novel batch that trips does not duplicate
      // edges the corpus already carries (the defensive anti-join)
      val mixed = edgesDf(Seq(10L -> 11L, 20L -> 21L, 21L -> 22L))
      assert(GraphIndexStore.refreezeIfStale(spark, mixed, name,
        maxUnseenShare = 0.2).contains(2L))
      val n = GraphIndexStore.edges(spark, name)
        .groupBy("x", "y").count().filter(col("count") > 1).count()
      assert(n == 0, "no edge may appear twice after the refreeze")
      assert(GraphIndexStore.edges(spark, name).count() == 5L,
        "gen 2 = {1-2, 10-11, 11-12, 20-21, 21-22} — nothing twice")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("streaming probe: per-batch closures equal the batch probe; drift rows equal staleness") {
    import spark.implicits._
    val name = "graphfr7"
    val dirBase = java.nio.file.Files.createTempDirectory("graphstream").toString
    FreezeStore.dropAll(spark, name)
    try {
      // corpus: path 1-2-3-4 plus 5-6 (so both slices close something)
      GraphIndexStore.freeze(edgesDf(Seq(
        1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)), name, buckets = 2)
      // two deterministic arrival slices, one file each → one batch each:
      // slice 0 closes the 1-2-3 wedge; slice 1 closes 3-4-5 and carries
      // an unseen-node edge (the drift signal)
      val arrDir = s"$dirBase/arrivals"
      Seq((1L, 3L)).toDF("x", "y")
        .coalesce(1).write.mode("overwrite").parquet(s"$arrDir/p=0")
      Seq((3L, 5L), (10L, 11L)).toDF("x", "y")
        .coalesce(1).write.mode("append").parquet(s"$arrDir/p=1")
      def stream() = spark.readStream.schema("x BIGINT, y BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(s"$arrDir/p=*")

      val qp = graft.streaming.GraphStream.probeStream(stream(), name,
        s"$dirBase/probe", s"$dirBase/ckpt_p")
      qp.awaitTermination()
      val outs = new java.io.File(s"$dirBase/probe").listFiles()
        .filter(_.getName.startsWith("batch=")).sortBy(_.getName)
      assert(outs.length == 2, s"one result set per micro-batch: ${outs.length}")
      // the batch=N dir layout adds an inferred partition column —
      // compare the payload columns only
      val streamed = spark.read.parquet(s"$dirBase/probe")
        .select("x", "y", "w").collect().map(_.toString).toSet
      val expect = Seq(s"$arrDir/p=0", s"$arrDir/p=1").flatMap { p =>
        GraphIndexStore.closedFrozen(spark, spark.read.parquet(p), name)
          .select("x", "y", "w").collect().map(_.toString)
      }.toSet
      assert(streamed.nonEmpty && streamed == expect,
        s"streamed closures must equal per-slice batch probes: $streamed vs $expect")

      val qd = graft.streaming.GraphStream.driftStream(stream(), name,
        s"$dirBase/drift", s"$dirBase/ckpt_d")
      qd.awaitTermination()
      val drifted = spark.read.parquet(s"$dirBase/drift")
        .select("band", "n_end_new").collect().map(_.toString).toSet
      val dExpect = Seq(s"$arrDir/p=0", s"$arrDir/p=1").flatMap { p =>
        GraphIndexStore.staleness(spark, spark.read.parquet(p), name)
          .select("band", "n_end_new").collect().map(_.toString)
      }.toSet
      assert(drifted == dExpect,
        s"streamed drift must equal batch staleness: $drifted vs $dExpect")
      // the unseen-node edge surfaces in band −1 of some batch
      assert(spark.read.parquet(s"$dirBase/drift")
        .filter(col("band") === -1L).count() > 0,
        "the novel-node slice must land drift mass in the unseen band")
    } finally {
      FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirBase))
    }
  }

  test("weighted freeze: w survives the store roundtrip and appends; probes ignore it") {
    val name = "graphfrw1"
    FreezeStore.dropAll(spark, name)
    try {
      val weighted = spark.createDataFrame(Seq(
        (1L, 2L, 3L), (2L, 3L, 5L))).toDF("x", "y", "w")
      GraphIndexStore.freeze(weighted, name, buckets = 2)
      assert(rows(GraphIndexStore.edges(spark, name)) ==
        rows(weighted), "the weighted frame must roundtrip exactly")
      // appends carry their own weights through the batch protocol
      GraphIndexStore.append(
        spark.createDataFrame(Seq((3L, 4L, 7L))).toDF("x", "y", "w"), name)
      assert(GraphIndexStore.edges(spark, name).count() == 3L)
      assert(GraphIndexStore.edges(spark, name)
        .filter(col("x") === 3L).select("w").head().getLong(0) == 7L)
      // the closure probe reads (x, y) only — weights don't disturb it
      assert(rows(GraphIndexStore.closedFrozen(spark,
        edgesDf(Seq(1L -> 3L)), name)) == Seq("[1,3,2]"))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("weighted drift → refreeze MERGES weights (shared pairs add, novel pairs land)") {
    val name = "graphfrw2"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freeze(spark.createDataFrame(Seq(
        (1L, 2L, 3L), (2L, 3L, 5L))).toDF("x", "y", "w"), name, buckets = 2)
      // arrivals: a known pair gaining weight + two novel-node edges
      // (4/6 endpoints unseen → trips the 20% gate)
      val arr = spark.createDataFrame(Seq(
        (1L, 2L, 4L), (10L, 11L, 1L), (11L, 12L, 2L))).toDF("x", "y", "w")
      val fired = GraphIndexStore.refreezeIfStale(spark, arr, name,
        maxUnseenShare = 0.2)
      assert(fired.contains(2L), s"novel nodes must trigger gen 2: $fired")
      val got = rows(GraphIndexStore.edges(spark, name))
      // 1-2 MERGED to 3+4=7 (the additive rule — the unweighted
      // anti-join absorb would have dropped the gained weight)
      assert(got == rows(spark.createDataFrame(Seq(
        (1L, 2L, 7L), (2L, 3L, 5L), (10L, 11L, 1L), (11L, 12L, 2L)))
        .toDF("x", "y", "w")),
        s"weighted refreeze must merge, not anti-join: $got")
      // weightless arrivals against a weighted family fail LOUDLY
      val thrown = intercept[IllegalArgumentException] {
        GraphIndexStore.refreezeIfStale(spark,
          edgesDf(Seq(20L -> 21L, 21L -> 22L)), name, maxUnseenShare = 0.2)
      }
      assert(thrown.getMessage.contains("weighted"))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("g07 re-rank equals the storeless twin; merge adds weights on shared pairs") {
    val name = "g07_frozen" // the key's own family name — exercise it
    FreezeStore.dropAll(spark, name)
    try {
      val got = rows(Graph.g07IncrementalPagerank(spark, sf))
      // the storeless twin: both chains over live-computed weights
      val cwo = Graph.corpusWeightedEdges(spark, sf)
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      val cwn = Graph.weightedPairs(li.filter(col("l_orderkey") % 10 >= 8))
      val cwm = cwo.unionByName(cwn).groupBy("x", "y")
        .agg(org.apache.spark.sql.functions.sum(col("w")).as("w"))
      val rNew = Graph.pagerankFrom(cwm)
      val rOld = Graph.pagerankFrom(cwo)
        .select(col("part"), col("rank_micro").as("rank_frozen"))
      val want = rows(rNew.join(rOld, Seq("part"), "left")
        .select(col("part"), col("n_nbrs"), col("wt"),
          col("rank_micro").as("rank_new"), col("rank_frozen"),
          (col("rank_micro") - col("rank_frozen")).as("delta_micro"))
        .orderBy(col("rank_new").desc, col("part")))
      assert(want.nonEmpty && got == want,
        s"frozen re-rank != storeless twin (${got.length} vs ${want.length})")
      // non-vacuous increment: some pair must gain weight in the merge
      val gained = cwm.join(cwo.withColumnRenamed("w", "w_old"), Seq("x", "y"))
        .filter(col("w") > col("w_old")).count()
      val fresh = cwm.join(cwo, Seq("x", "y"), "left_anti").count()
      assert(gained > 0 || fresh > 0,
        "the arrival slice must change the edge weights")
    } finally FreezeStore.dropAll(spark, name)
  }

  // ---- the COMMUNITY view (round 15): freeze labels, serve g09's
  // bridge monitor off them, refreeze over the weight merge ----

  private def wpairs(rows: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("x", "y", "w")

  /** Communities {1,2,3} and {10,11}; pair (20,21) sits at w=1,
    * BELOW the screen — persisted raw but unlabeled. */
  private def communityCorpus = wpairs(Seq(
    (1L, 2L, 2L), (2L, 3L, 3L), (10L, 11L, 5L), (20L, 21L, 1L)))

  test("frozen community bridges equal the live bridgeBands; screen respected") {
    val name = "graphcom1"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freezeCommunities(communityCorpus, name, buckets = 2)
      // labels: only the screened subgraph is labeled
      val lbl = GraphIndexStore.labels(spark, name).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
        s"sub-threshold pairs must stay unlabeled: $lbl")
      // one arrival of each kind
      val arr = wpairs(Seq(
        (1L, 2L, 1L),   // intra (community 1)
        (3L, 10L, 1L),  // bridge (1 x 10)
        (1L, 99L, 1L),  // attach
        (98L, 99L, 1L)))// novel
      val got = GraphIndexStore.communityBridges(spark, arr, name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == Set(("intra", 1L, 1L, 1L), ("bridge", 1L, 1L, 1L),
        ("attach", 1L, 1L, 1L), ("novel", 1L, 1L, 1L)), s"bands: $got")
      // frozen == live (one definition over the same frames)
      val live = graft.operators.Graph.bridgeBands(arr,
        GraphIndexStore.labels(spark, name)).collect()
        .map(_.toString).sorted.toSeq
      val frozen = GraphIndexStore.communityBridges(spark, arr, name)
        .collect().map(_.toString).sorted.toSeq
      assert(frozen == live)
      // an edge-only family refuses the community read loudly
      FreezeStore.dropAll(spark, "graphcom1e")
      GraphIndexStore.freeze(edgesDf(Seq(1L -> 2L)), "graphcom1e", buckets = 2)
      intercept[IllegalArgumentException] {
        GraphIndexStore.communityBridges(spark, arr, "graphcom1e")
      }
      FreezeStore.dropAll(spark, "graphcom1e")
    } finally FreezeStore.dropAll(spark, name)
  }

  test("community refreeze: non-intra share trips it; weight merge crosses the screen") {
    val name = "graphcom2"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freezeCommunities(communityCorpus, name, buckets = 2)
      // intra-only arrivals: outside share 0 — never a retrain
      assert(GraphIndexStore.refreezeCommunitiesIfStale(spark,
        wpairs(Seq((1L, 3L, 1L))), name).isEmpty)
      // empty arrivals: no-op, not a divide-by-zero
      assert(GraphIndexStore.refreezeCommunitiesIfStale(spark,
        wpairs(Seq()).filter(lit(false)), name).isEmpty)
      assert(FreezeStore.readPtr(spark, name).map(_._1).contains(1L))

      // drifted batch: a second (20,21) observation + novel structure
      // → outside share 1.0 fires the loop; the persisted w=1 and the
      // arrival w=1 MERGE to w=2, crossing the community screen —
      // exactly what a screened-only store could never recover
      val drifted = wpairs(Seq((20L, 21L, 1L), (30L, 31L, 2L)))
      val fired = GraphIndexStore.refreezeCommunitiesIfStale(spark,
        drifted, name)
      assert(fired.contains(2L), s"drifted arrivals must retrain: $fired")
      val lbl2 = GraphIndexStore.labels(spark, name).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl2.get(20L).contains(20L) && lbl2.get(21L).contains(20L),
        s"the merged (20,21) weight must cross the screen: $lbl2")
      assert(lbl2.get(30L).contains(30L) && lbl2.get(31L).contains(30L))
      // the same pair now reads INTRA — absorbed
      val again = GraphIndexStore.communityBridges(spark,
        wpairs(Seq((20L, 21L, 1L))), name).collect()
      assert(again.length == 1 && again(0).getString(0) == "intra")
      GraphIndexStore.freezeCommunities(communityCorpus, name, buckets = 2)
      assert(FreezeStore.listGens(spark, name) == Seq(2L, 3L))
    } finally FreezeStore.dropAll(spark, name)
  }

  test("streaming bridges: per-batch bands equal the batch monitor per slice") {
    val name = "graphcom3"
    FreezeStore.dropAll(spark, name)
    val base = java.nio.file.Files.createTempDirectory("gbridge").toString
    try {
      GraphIndexStore.freezeCommunities(communityCorpus, name, buckets = 2)
      val s1 = Seq((1L, 2L, 1L), (3L, 10L, 1L))
      val s2 = Seq((1L, 99L, 1L), (98L, 99L, 2L))
      wpairs(s1).coalesce(1).write.parquet(s"$base/in/p=0")
      wpairs(s2).coalesce(1).write.mode("append").parquet(s"$base/in/p=1")
      val stream = spark.readStream.schema(wpairs(s1).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/p=*")
      val q = graft.streaming.GraphStream.bridgesStream(stream, name,
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      val outs = new java.io.File(s"$base/out").listFiles()
        .filter(_.getName.startsWith("batch=")).sortBy(_.getName)
      assert(outs.length == 2, s"one band set per micro-batch: ${outs.length}")
      // match each landed batch to its slice's batch monitor (file
      // order != batch order under maxFilesPerTrigger is possible;
      // compare as a multiset of result sets)
      def setOf(df: DataFrame) = df
        .select("kind", "n_edges", "w_mass", "n_label_pairs")
        .collect().map(_.toString).sorted.toSeq
      val streamed = outs.map(f =>
        setOf(spark.read.parquet(f.getAbsolutePath))).toSet
      val want = Set(s1, s2).map(s =>
        setOf(GraphIndexStore.communityBridges(spark, wpairs(s), name)))
      assert(streamed == want, s"streamed=$streamed want=$want")
    } finally {
      FreezeStore.dropAll(spark, name)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("compaction: appended batches collapse, probes unchanged, appends continue") {
    val name = "graphfr6"
    FreezeStore.dropAll(spark, name)
    try {
      GraphIndexStore.freeze(edgesDf(Seq(1L -> 2L, 2L -> 3L)), name, buckets = 2)
      GraphIndexStore.append(edgesDf(Seq(1L -> 3L)), name)
      GraphIndexStore.append(edgesDf(Seq(3L -> 4L)), name)
      val probe = edgesDf(Seq(2L -> 4L))
      val before = rows(GraphIndexStore.closedFrozen(spark, probe, name))
      assert(before == Seq("[2,4,3]"))
      GraphIndexStore.compact(spark, name)
      assert(rows(GraphIndexStore.closedFrozen(spark, probe, name)) == before,
        "post-compaction probes unchanged")
      GraphIndexStore.append(edgesDf(Seq(4L -> 5L)), name)
      assert(rows(GraphIndexStore.closedFrozen(spark,
        edgesDf(Seq(3L -> 5L)), name)) == Seq("[3,5,4]"),
        "post-compaction append must be probe-visible")
    } finally FreezeStore.dropAll(spark, name)
  }
}
