package graft.operators

import graft.functions.TextFns._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * s01 is the exact brute-force baseline: the (small) query set is
  * broadcast against the corpus, so the corpus is scanned once with
  * no shuffle of the big side — the right shape when queries ≪ corpus.
  * s02 is the scale path: random-hyperplane LSH buckets the corpus
  * (one shuffle on bucket id) and only same-bucket candidates are
  * scored. Cosines use exact integer arithmetic (see TextFns) so
  * rankings are bit-deterministic.
  */
object Similarity {

  /** Deterministic "training" rule shared by s03/s04/d08: every Nth
    * vector serves as a centroid/codeword. Also hardcoded in those
    * queries' DuckDB oracles (`vec_id % 50 = 0`) — change BOTH. */
  private[operators] val CentroidStride = 50

  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    OpCache.cached(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv")))) // query side + candidate side

  /** s01: brute-force cosine top-5 for every 20th vector as query. */
  def s01AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    val qs = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qv_q"), col("nrm").as("nq"))
    val cands = e.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("nrm").as("nc"))
    val scored = cands.join(broadcast(qs), col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Random-hyperplane bucket id (4 planes → 16 buckets). Plane
    * component (j,i) = ((1103515245·(j·64+i) + 12345) mod 197) − 98,
    * pure int64 math shared with the oracle. */
  private def bucketCol(qv: Column): Column = {
    val planes = (0 until 4).map { j =>
      val dot = aggregate(sequence(lit(1), lit(64)), lit(0L),
        (acc, i) => acc + element_at(qv, i) *
          ((lit(1103515245L) * (lit(j) * 64 + i) + 12345L) % 197 - 98))
      when(dot > 0, 1L << j).otherwise(0L)
    }
    planes.reduce(_ + _)
  }

  /** s02: LSH-bucketed ANN — candidates share the query's bucket. */
  def s02AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // the bucket projection goes INSIDE the cached frame: computing
    // it above the columnar cache scan on both self-join sides trips
    // a Spark attribute-rebinding bug (ArrayIndexOutOfBounds in the
    // generated cache iterator) when this query materializes the
    // cache first — and caching the derived frame is what every
    // other self-join operator does anyway
    val e = OpCache.cached(
      quantized(spark, dir).withColumn("bucket", bucketCol(col("qv"))))
    val qs = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qv_q"),
        col("nrm").as("nq"), col("bucket"))
    val cands = e.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"),
      col("nrm").as("nc"), col("bucket"))
    val scored = cands.join(broadcast(qs), Seq("bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("bucket"), col("cand_id"),
        qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "bucket", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Production centroid count: fixed k, independent of corpus size.
    * The oracle-parity every-[[CentroidStride]]th rule makes k grow
    * as n/50 — at the 100 TB design point that is an impossible
    * centroid broadcast and an n²/50 assignment. With fixed k the
    * broadcast is constant-size and assignment is n×k — linear in
    * the corpus ([[graft.Stress]] probes this). 64 suits the test
    * corpus; a production deployment sets k in the thousands
    * (FAISS-style nlist) and can grow it ~√n. */
  private[operators] val ProductionK = 64L

  /** Bounded-k centroids: stride = max_id div k + 1 guarantees at
    * most k ids in [0, max_id] are divisible by the stride — the
    * same deterministic every-Nth "training" rule, with N derived
    * from the id range instead of hardcoded. The stride is a
    * broadcast single-row cross join (the q19 above-avg pattern), so
    * the rule stays one distributed plan, no driver-side count. */
  private[graft] def boundedSeeds(e: DataFrame, k: Long = ProductionK): DataFrame = {
    // integer `div`, not double-divide-then-cast: exact at any id
    // magnitude, identical to DuckDB's `//` for non-negative ids.
    // The stride is now a LITERAL from a collect-once 1-row max
    // (r19 opt pass, VERDICT r18 #4/#6): the previous spelling cross-
    // joined a broadcast max-aggregate subtree into EVERY consumer
    // plan — the committed r18 plans showed the 8/64-seed strides as
    // two SEPARATE single-task aggregate jobs (the claimed
    // ReuseExchange never appeared in a static plan), and every seed
    // consumer in the s13 ladder hung one more sequential broadcast
    // build off it. One bounded collect per invocation (the p25
    // collected-literal precedent; memoized per plan in OpCache,
    // released with the frame registry) turns the stride into a plain
    // pushable filter: no crossJoin, no broadcast, no per-consumer
    // max job — ladder DEPTH shrinks by one level everywhere a seed
    // frame appears. Cost model unchanged at 100 TB: the max is one
    // map-side-combinable aggregate over the vector frame, paid once
    // per invocation instead of ≥ once per consumer subtree.
    seedStride(e, k) match {
      case Some(stride) => e.filter(col("vec_id") % lit(stride) === 0)
      case None => e.filter(lit(false)) // empty frame: no seeds
    }
  }

  private def seedStride(e: DataFrame, k: Long): Option[Long] = {
    val mx = OpCache.scalarRow(e.agg(max(col("vec_id")).as("mx")))
    if (mx.isNullAt(0)) None else Some(mx.getLong(0) / k + 1L)
  }

  private[graft] def boundedCents(e: DataFrame, k: Long = ProductionK): DataFrame =
    boundedSeeds(e, k)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("nrm").as("c_nrm"))

  /** Oracle-parity centroids: every [[CentroidStride]]th vector. */
  private[graft] def strideCents(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % CentroidStride === 0)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("nrm").as("c_nrm"))

  /** s03: IVF-style ANN — every 50th vector serves as a centroid
    * (deterministic "training"), vectors are assigned to their
    * best-cosine cell, queries probe their top-2 cells and rank the
    * exact cosine only within probed cells. Assignment costs n×k
    * broadcast cosines (no shuffle of the corpus); the candidate
    * join shuffles on cell id — the IVF scale shape. */
  def s03AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    ivfCore(e, strideCents(e))
  }

  /** s03 on the PRODUCTION centroid rule (fixed k — see
    * [[boundedCents]]): the plan a 100 TB deployment runs. Same
    * search semantics, constant-size centroid broadcast, linear
    * assignment. */
  def s03Production(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    ivfCore(e, boundedCents(e))
  }

  private def ivfCore(e: DataFrame, cents: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("qv"), col("nrm"), col("c_id"),
        qcos(qdot(col("qv"), col("c_qv")), col("nrm"), col("c_nrm")).as("c_cos"))
    val byCell = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    val ranked = scored.withColumn("crn", row_number().over(byCell))
    val assign = OpCache.cached(ranked.filter(col("crn") === 1)
      .select(col("vec_id"), col("qv"), col("nrm"), col("c_id").as("cell")))
    val probes = ranked.filter(col("vec_id") % 20 === 0 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("qv").as("qv_q"),
        col("nrm").as("nq"), col("c_id").as("cell"))
    val scoredCands = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("cell"), col("vec_id").as("cand_id"),
        qcos(qdot(col("qv_q"), col("qv")), col("nq"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    scoredCands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "cand_id", "cell", "cos")
      .orderBy("q_id", "rank")
  }

  /** s08: HIERARCHICAL (two-level) IVF — the large-k scale path. A
    * flat IVF with the k a real deployment needs (tens of thousands
    * of cells) pays n×k assignment cosines; routing through a coarse
    * level first cuts that to n×(k₁ + k/k₁) expected (8 coarse + the
    * fine centroids of one coarse cell here). The FAISS IMI/HNSW
    * coarse-quantizer idea in relational form:
    *
    *  - coarse = 8 bounded-stride seeds; fine = 64 seeds ∪ coarse
    *    (so every coarse cell contains at least itself — no vector
    *    can land in a fine-less cell);
    *  - fine→coarse and vector→coarse by argmax cosine
    *    (min-struct, map-side combinable); vector→fine argmax only
    *    over the fines OF ITS coarse cell;
    *  - queries probe their top-2 coarse cells, then the top-2 fine
    *    cells within those, then rank exact cosines over the ≤2
    *    fine cells' members — s03's output contract (cell = fine).
    *
    * All rules are deterministic integer/exact-cosine arithmetic —
    * full DuckDB oracle. */
  def s08AnnIvf2(spark: SparkSession, dir: String): DataFrame =
    ivf2Core(quantized(spark, dir), probeCoarse = 2, probeFine = 2)

  /** s11: FILTERED hierarchical IVF — s09's label filter composed
    * with s08's two-level routing, the shape a filtered deployment
    * runs once flat bounded-k cells stop sufficing: the corpus is
    * assigned through coarse→fine exactly as s08 (assignment is
    * label-agnostic — cells stay shared across tenants), and the
    * filter only tightens the candidate join key to (cell, label).
    * Fine probes go to 4 (vs s08's 2) per s10's nprobe-under-filter
    * rule: the label filter thins every probed cell, so filtered
    * search buys recall back by probing deeper. Full DuckDB oracle;
    * AnnQualitySpec pins recall vs the exact-filtered s09. */
  def s11FilteredIvf2(spark: SparkSession, dir: String): DataFrame =
    ivf2Core(quantized(spark, dir), probeCoarse = 2, probeFine = 4,
      labelFiltered = true)

  /** The two-level index build shared by s08/s11/s12/s13/s14:
    * (coarse centroids, fine→coarse map, vector→fine-cell
    * assignment). The assignment is OpCache'd, so every consumer in
    * a session (and every probe setting of a sweep) shares ONE
    * corpus-side routing computation. The 8-seed set is computed
    * once and reused as both the coarse set and the fine union's
    * second leg. */
  private[graft] def ivf2Index(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val seeds8 = boundedSeeds(e, 8L)
    val coarse = seeds8
      .select(col("vec_id").as("c1"), col("qv").as("c1_qv"), col("nrm").as("c1_nrm"))
    val fine = boundedSeeds(e, 64L).select("vec_id", "qv", "nrm")
      .union(seeds8.select("vec_id", "qv", "nrm"))
      .distinct()
      .select(col("vec_id").as("f_id"), col("qv").as("f_qv"), col("nrm").as("f_nrm"))
    // fine centroid -> its coarse cell (tiny × tiny; NOT cached —
    // measured at sf0.1, caching these 8/72-row frames costs more in
    // materialization barriers than the branch rescans they save)
    val f2c = fine.crossJoin(broadcast(coarse))
      .select(col("f_id"),
        struct((lit(0.0) - qcos(qdot(col("f_qv"), col("c1_qv")), col("f_nrm"), col("c1_nrm"))).as("nc"),
          col("c1").as("c")).as("cand"))
      .groupBy("f_id").agg(min(col("cand")).as("m"))
      .select(col("f_id"), col("m.c").as("c1"))
      .join(fine, "f_id")
    val assign = OpCache.cached(assignCells(e, coarse, f2c).join(e, "vec_id"))
    (coarse, f2c, assign)
  }

  /** The coarse→fine cell assignment of any vector frame through
    * GIVEN (possibly frozen) centroid frames — ivf2Index's corpus
    * side, factored so [[appendToFrozenIndex]] can route an ARRIVING
    * batch through a shipped index's quantizers (the d15/d18
    * frozen-index discipline: nothing about the layout shifts as
    * increments arrive). Returns (vec_id, cell). */
  private[graft] def assignCells(e: DataFrame, coarse: DataFrame,
                                 f2c: DataFrame): DataFrame = {
    // vector -> coarse (n × 8)
    val v2c = e.crossJoin(broadcast(coarse))
      .select(col("vec_id"),
        struct((lit(0.0) - qcos(qdot(col("qv"), col("c1_qv")), col("nrm"), col("c1_nrm"))).as("nc"),
          col("c1").as("c")).as("cand"))
      .groupBy("vec_id").agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.c").as("c1"))
    // vector -> fine, restricted to the fines of its coarse cell
    v2c.join(e, "vec_id").join(broadcast(f2c), "c1")
      .select(col("vec_id"),
        struct((lit(0.0) - qcos(qdot(col("qv"), col("f_qv")), col("nrm"), col("f_nrm"))).as("nc"),
          col("f_id").as("c")).as("cand"))
      .groupBy("vec_id").agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.c").as("cell"))
  }

  /** Query-side routing through the two-level index: top-probeCoarse
    * coarse cells, then top-probeFine fine cells within them. Output
    * (q_id, label, qv_q, nq, cell) — label carried through for the
    * filtered variants. All joins are broadcasts of centroid-sized
    * frames against the query set (the fixture's 1-in-20 rule by
    * default; [[graft.Stress]] pins a FIXED query batch so its probe
    * measures the production corpus-grows/queries-don't asymmetry
    * instead of the eval rule's corpus×query product). */
  /** The (q_id, label, qv_q, nq) query frame the eval rule selects
    * out of the corpus — the ONE place the pred→frame projection
    * lives, so the query-frame cores below ([[ivf2RoutesQ]],
    * [[ivfpqSearchQ]] — what the STREAMING twin feeds with arriving
    * micro-batches) compose the literal same plan. */
  private def queryFrame(e: DataFrame, queryPred: Column): DataFrame =
    e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("label"),
        col("qv").as("qv_q"), col("nrm").as("nq"))

  private def ivf2Routes(e: DataFrame, coarse: DataFrame, f2c: DataFrame,
                         probeCoarse: Int, probeFine: Int,
                         queryPred: Column = col("vec_id") % 20 === 0): DataFrame =
    ivf2RoutesQ(queryFrame(e, queryPred), coarse, f2c, probeCoarse, probeFine)

  /** [[ivf2Routes]] over an EXPLICIT (q_id, label, qv_q, nq) query
    * frame — the entry arriving query batches use. */
  private[graft] def ivf2RoutesQ(q: DataFrame, coarse: DataFrame,
                                 f2c: DataFrame, probeCoarse: Int,
                                 probeFine: Int): DataFrame = {
    val wq1 = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c1"))
    val q2c = q.crossJoin(broadcast(coarse))
      .select(col("q_id"), col("label"), col("qv_q"), col("nq"), col("c1"),
        qcos(qdot(col("qv_q"), col("c1_qv")), col("nq"), col("c1_nrm")).as("c_cos"))
      .withColumn("rn", row_number().over(wq1)).filter(col("rn") <= probeCoarse)
      .select("q_id", "label", "qv_q", "nq", "c1")
    val wq2 = Window.partitionBy("q_id").orderBy(col("f_cos").desc, col("f_id"))
    q2c.join(broadcast(f2c), "c1")
      .select(col("q_id"), col("label"), col("qv_q"), col("nq"), col("f_id"),
        qcos(qdot(col("qv_q"), col("f_qv")), col("nq"), col("f_nrm")).as("f_cos"))
      .withColumn("rn", row_number().over(wq2)).filter(col("rn") <= probeFine)
      .select(col("q_id"), col("label"), col("qv_q"), col("nq"),
        col("f_id").as("cell"))
  }

  /** s08's search with a configurable probe depth — the sweep knob
    * AnnQualitySpec and s12 use to pin/report the recall-vs-probes
    * trade — and an optional label filter (s11): the filter changes
    * ONLY the candidate join key, never the index layout. */
  private[graft] def ivf2Core(e: DataFrame, probeCoarse: Int,
                              probeFine: Int,
                              labelFiltered: Boolean = false): DataFrame = {
    val (coarse, f2c, assign) = ivf2Index(e)
    val q2f = ivf2Routes(e, coarse, f2c, probeCoarse, probeFine)
    val joinKey = if (labelFiltered) Seq("cell", "label") else Seq("cell")
    val qSide = if (labelFiltered) q2f else q2f.drop("label")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val outCols =
      if (labelFiltered) Seq("q_id", "label", "rank", "cand_id", "cell", "cos")
      else Seq("q_id", "rank", "cand_id", "cell", "cos")
    val scoreCols = Seq(col("q_id")) ++
      (if (labelFiltered) Seq(col("label")) else Nil) ++
      Seq(col("cell"), col("vec_id").as("cand_id"),
        qcos(qdot(col("qv_q"), col("qv")), col("nq"), col("nrm")).as("cos"))
    assign.join(broadcast(qSide), joinKey)
      .filter(col("q_id") =!= col("vec_id"))
      .select(scoreCols: _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(outCols.head, outCols.tail: _*)
      .orderBy("q_id", "rank")
  }

  /** s12: probe-depth recall sweep — the recall-vs-probes curve of
    * the hierarchical index (s08's ivf2Core) as a FIRST-CLASS query:
    * for each (probe_coarse, probe_fine) setting, recall@5 of the
    * probed search against the exact brute-force truth, aggregated
    * over the query set. The operational knob every IVF deployment
    * tunes, pinned by the driver's oracle gate the way s05 pins
    * flat-index recall (a refactor that wrecks recall now fails the
    * gate, not just a spec with a hand-picked floor).
    *
    * Plan shape: the corpus-side assignment is computed ONCE (shared
    * OpCache entry across the four probe settings — only the tiny
    * query-side routing differs per setting); truth and the per-run
    * top-5 sets are queries×5 rows, so the sweep's joins and the
    * final groupBy are driver-free micro-joins. */
  def s12ProbeRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(spark, dir)
    val truth = s01AnnBrute(spark, dir).select(col("q_id"), col("cand_id"))
    // (4,4) extends the driver-gated curve into the region the
    // AnnQualitySpec structural sweep proves monotone (VERDICT r6
    // nit): the curve's knee, not just its origin, is oracle-pinned
    val combos = Seq((1, 1), (1, 2), (2, 1), (2, 2), (4, 4))
    val runs = combos.map { case (pc, pf) =>
      ivf2Core(e, pc, pf).select(col("q_id"), col("cand_id"))
        .withColumn("probe_coarse", lit(pc))
        .withColumn("probe_fine", lit(pf))
        .withColumn("hit", lit(1))
    }.reduce(_ union _)
    val grid = truth.crossJoin(
      broadcast(combos.toDF("probe_coarse", "probe_fine")))
    grid.join(runs, Seq("q_id", "cand_id", "probe_coarse", "probe_fine"), "left")
      .groupBy("probe_coarse", "probe_fine")
      .agg(count(col("hit")).as("n_hits"),
        countDistinct(col("q_id")).as("n_queries"))
      .select(col("probe_coarse"), col("probe_fine"), col("n_hits"),
        col("n_queries"),
        (col("n_hits").cast("double") / (col("n_queries") * 5)).as("recall"))
      .orderBy("probe_coarse", "probe_fine")
  }

  /** s13: IVFPQ — the composed FAISS-style index shape a
    * trillion-vector corpus requires (VERDICT r5 #1): s08's
    * hierarchical coarse→fine routing decides WHICH cells a query
    * probes, and s04's product-quantization ADC decides the ranking
    * INSIDE those cells — full vectors never enter the candidate
    * scoring (a candidate costs M=4 int64 table lookups, not a
    * 64-dim dot), which is what lets the searched index live at
    * M bytes/vector while the raw vectors stay at rest in parquet.
    * Exact-cosine rerank of the top-20 ADC survivors restores
    * ranking quality, touching full vectors only for 20 rows/query.
    *
    * Plan shape: index assignment is ivf2Index's (OpCache-shared
    * with s08/s11/s12/s14 in the same session); codes are one
    * groupBy over the broadcast-codebook distance table; the
    * candidate join keys probed cells against the assignment and
    * immediately narrows to (q_id, cell, vec_id) ids; ADC is an
    * M-row sum per candidate with the lookup table broadcast; the
    * rerank joins the corpus by id for 20 rows/query. Both the
    * centroid and codeword rules are the production bounded-k
    * stride (constant-size broadcasts at any corpus size). */
  def s13AnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfpqFrom(quantized(spark, dir))

  /** s15: FILTERED IVFPQ — the last composition of the ANN lattice
    * (VERDICT r6 #2): s13's memory shape (coarse→fine routing + ADC
    * ranking inside probed cells + exact rerank) with s09/s10/s11's
    * label pre-filter. A tenant-scoped search over a PQ-compressed
    * trillion-vector index is exactly this query: the index layout
    * (cells, codes) stays label-agnostic and shared across tenants;
    * the filter ONLY tightens the candidate join key to
    * (cell, label) — s11's key-tightening applied to s13's
    * probed-cell candidate join. Fine probes go to 4 per the
    * nprobe-under-filter rule (the filter thins every probed cell —
    * s10/s11 precedent, measured by s14). Full DuckDB oracle;
    * AnnQualitySpec pins recall vs the exact-filtered s09. */
  def s15FilteredIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfpqFrom(quantized(spark, dir), probeFine = 4, labelFiltered = true)

  /** Bench-only cost attribution of s13 (VERDICT r6 #3): the SEARCH
    * phase over a PREBUILT index. A deployment builds cells + codes
    * once per corpus freeze and amortizes them across every query
    * batch; s13's bench entry rebuilds them per pass (the honest
    * cold-build number, ~30 small stages), so round-over-round
    * comparisons of the HOT path were noise-bound. Here the corpus
    * assignment (already OpCache'd by [[ivf2Index]]) and the PQ
    * codes are cache-materialized by the bench's untimed warm pass;
    * the timed passes measure routing + ADC + exact rerank only.
    * Rows are identical to s13's — caching is transparent —
    * AnnQualitySpec pins that. */
  private[graft] def s13SearchPhase(spark: SparkSession, dir: String): DataFrame =
    ivfpqFrom(quantized(spark, dir), cacheCodes = true)

  /** s13/s15's core over any (vec_id, label, qv, nrm) frame — also
    * driven at replicated scale by [[graft.Stress]] (which overrides
    * `queryPred` to a fixed query batch — see [[ivf2Routes]]).
    * `labelFiltered` tightens ONLY the candidate join key (the s11
    * rule); `probeFine` is the sweep knob s16 drives. */
  private[graft] def ivfpqFrom(e: DataFrame,
      queryPred: Column = col("vec_id") % 20 === 0,
      probeFine: Int = 2,
      labelFiltered: Boolean = false,
      cacheCodes: Boolean = false): DataFrame = {
    val (coarse, f2c, assign) = ivf2Index(e)
    val d2 = pqDistances(e, boundedSeeds(e))
    // corpus-sized; cached only for the prebuilt-index cost split
    // (s13SearchPhase) and the probe sweep (s16) — one code build
    // shared across passes/settings instead of one per consumer
    val codes = if (cacheCodes) OpCache.cached(codesOf(d2)) else codesOf(d2)
    val adcTab = d2.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id"), col("d2").as("qd2"))
    ivfpqSearch(e, coarse, f2c, assign, codes, adcTab, queryPred,
      probeFine, labelFiltered)
  }

  /** The PQ ENCODING argmin — (vec_id, m, cw_id) from the distance
    * table. ONE definition consumed by the in-memory search
    * (ivfpqFrom), the freeze (shipIvfpqIndexFrom) and the arrival
    * append (appendToFrozenIndex): the frozen path must stay
    * bit-identical to the in-memory one for AnnShipSpec's equality
    * to hold, so the tie-break lives in exactly one place (review
    * r9 finding — it was inlined four times). */
  private[graft] def codesOf(d2: DataFrame): DataFrame =
    d2.groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cw_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cw_id").as("cw_id"))

  /** Codes straight from a corpus + codeword frame. */
  private[graft] def pqCodes(e: DataFrame, cwSource: DataFrame): DataFrame =
    codesOf(pqDistances(e, cwSource))

  /** The IVFPQ SEARCH over prebuilt index components — the join
    * algebra ivfpqFrom runs, factored out so the FROZEN-index path
    * ([[searchFrozenIvfpq]], loading cells/codes written by
    * [[shipIvfpqIndex]]) composes the LITERAL same plan over bucketed
    * tables instead of a fresh build (the BloomStream/SpanStream
    * shared-algebra rule). `assign` needs (vec_id, cell[, label]);
    * `adcTab` is the query-side (q_id, m, cw_id, qd2) lookup table. */
  private[graft] def ivfpqSearch(e: DataFrame, coarse: DataFrame,
      f2c: DataFrame, assign: DataFrame, codes: DataFrame, adcTab: DataFrame,
      queryPred: Column, probeFine: Int,
      labelFiltered: Boolean): DataFrame =
    ivfpqSearchQ(queryFrame(e, queryPred), e, coarse, f2c, assign, codes,
      adcTab, probeFine, labelFiltered)

  /** [[ivfpqSearch]] over an EXPLICIT query frame (q_id, label, qv_q,
    * nq) — the shape [[searchFrozenForQueries]] (and through it the
    * streaming twin) feeds with an ARRIVING query batch instead of an
    * eval-rule selection out of the corpus. The corpus frame `e` is
    * still needed for the exact rerank's candidate side only. */
  private[graft] def ivfpqSearchQ(qe: DataFrame, e: DataFrame,
      coarse: DataFrame, f2c: DataFrame, assign: DataFrame,
      codes: DataFrame, adcTab: DataFrame, probeFine: Int,
      labelFiltered: Boolean): DataFrame = {
    val routeCols =
      if (labelFiltered) Seq("q_id", "label", "cell") else Seq("q_id", "cell")
    val routes = ivf2RoutesQ(qe, coarse, f2c, probeCoarse = 2, probeFine)
      .select(routeCols.head, routeCols.tail: _*) // no query vector until rerank
    // probed-cell members only — the IVF restriction (and the label
    // filter, when on) is applied BEFORE any distance work, so ADC
    // cost is per-probed-candidate
    val candKey = if (labelFiltered) Seq("cell", "label") else Seq("cell")
    val assignKeyed =
      if (labelFiltered) assign.select(col("vec_id"), col("label"), col("cell"))
      else assign.select(col("vec_id"), col("cell"))
    val cand = assignKeyed
      .join(broadcast(routes), candKey)
      .filter(col("q_id") =!= col("vec_id"))
    val grpCols = Seq(col("q_id")) ++
      (if (labelFiltered) Seq(col("label")) else Nil) ++
      Seq(col("cell"), col("vec_id"))
    val approx = cand.join(codes, "vec_id")
      .join(broadcast(adcTab), Seq("q_id", "m", "cw_id"))
      .groupBy(grpCols: _*)
      .agg(sum("qd2").as("adc"))
    val cw20 = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
    val topCols = Seq(col("q_id")) ++
      (if (labelFiltered) Seq(col("label")) else Nil) ++
      Seq(col("cell"), col("vec_id").as("cand_id"), col("adc"))
    val top = approx.withColumn("crn", row_number().over(cw20))
      .filter(col("crn") <= 20)
      .select(topCols: _*)
    val qSide = qe.select(col("q_id"), col("qv_q"), col("nq"))
    val cSide = e.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("nrm").as("nc"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val rerankCols = Seq(col("q_id")) ++
      (if (labelFiltered) Seq(col("label")) else Nil) ++
      Seq(col("cell"), col("cand_id"), col("adc"),
        // rerank COVERAGE (ADVICE r9): a frozen index can hold vec_ids
        // the embeddings frame does not carry — an appendToFrozenIndex
        // batch whose arrivals were never landed in the embeddings
        // source. An inner join would silently drop them AND the
        // in-corpus candidates they displaced from the ADC top-20, so
        // the join below is LEFT and a missing exact vector fails
        // loudly at evaluation instead. NOTE (ADVICE r10): the guard
        // also fires for a row PRESENT with a NULL embedding — by
        // design: a null vector cannot be indexed (quantize of null is
        // null ⟹ no cell, no codes), so its appearance as an ADC
        // candidate means the index and the source disagree; keep
        // nulls out at ingest (filter before shipIvfpqIndex/append —
        // the corpus contract), don't soften the failure here
        when(col("qv_c").isNull, raise_error(concat(
            lit("frozen-index candidate missing from embeddings: vec_id="),
            col("cand_id").cast("string"),
            lit(" — land appended arrivals in the embeddings source before searching"))))
          .otherwise(qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")))
          .as("cos"))
    val outCols =
      if (labelFiltered) Seq("q_id", "label", "rank", "cand_id", "cell", "adc", "cos")
      else Seq("q_id", "rank", "cand_id", "cell", "adc", "cos")
    top.join(broadcast(qSide), "q_id").join(cSide, Seq("cand_id"), "left")
      .select(rerankCols: _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(outCols.head, outCols.tail: _*)
      .orderBy("q_id", "rank")
  }

  /** SHIP the frozen IVFPQ index (VERDICT r8 next-round #3): a
    * deployment freezes cells/codes once per corpus snapshot and
    * every later session searches WITHOUT rebuilding — the
    * similarity-family analog of the pipeline family's
    * writeTrainingShards. What persists:
    *  - coarse (8 rows), fine→coarse map (72 rows), PQ codebook
    *    (64 rows), refined k-means centroids (s18's ≤64 rows) —
    *    plain tables, broadcast-sized at any corpus size;
    *  - the corpus cell assignment (vec_id, label, cell) and the PQ
    *    codes (vec_id, m, cw_id) — the two CORPUS-SCALE frames,
    *    written BUCKETED on vec_id with a shared bucket count, so
    *    the search's candidates⋈codes equi-join (and the ADC
    *    aggregate, whose grouping keys include vec_id) plan with NO
    *    shuffle exchange on the corpus side (BucketingSpec rule:
    *    both sides agree on key+count). Raw vectors do NOT ship —
    *    they stay at rest in the embeddings table (at 100 TB the
    *    index must not double vector storage); rerank re-reads the
    *    20 rows/query it needs by id. */
  def shipIvfpqIndex(spark: SparkSession, dir: String, name: String,
                     buckets: Int = 8,
                     corpusPred: Column = lit(true)): Unit =
    shipIvfpqIndexFrom(quantized(spark, dir).filter(corpusPred), name, buckets,
      corpus = s"the corpus where $corpusPred")

  /** The freeze over any (vec_id, label, qv, nrm) frame — also
    * driven at replicated scale by [[graft.Stress]]. Returns the
    * committed generation. Fails, naming
    * `corpus`, when the frame holds no PQ codebook seed: an index with
    * an empty codebook would answer every search with 0 rows. */
  private[graft] def shipIvfpqIndexFrom(e: DataFrame, name: String,
                                        buckets: Int,
                                        corpus: => String = "the corpus"): Long = {
    val seeds = boundedSeeds(e)
    require(!seeds.isEmpty, {
      val rule = seedStride(e, ProductionK).fold("it is empty")(s => s"no vec_id % $s = 0")
      s"IVFPQ index '$name': $corpus holds no PQ codebook seed ($rule); every search would return 0 rows"
    })
    val (coarse, f2c, assign) = ivf2Index(e)
    val codes = pqCodes(e, seeds)
    graft.sources.AnnIndexStore.write(
      graft.sources.FrozenAnnIndex(
        coarse = coarse,
        f2c = f2c.select("f_id", "c1", "f_qv", "f_nrm"),
        codebook = seeds.select("vec_id", "qv", "nrm"),
        refined = refinedCents(e),
        assign = assign.select("vec_id", "label", "cell"),
        codes = codes),
      name, buckets)
  }

  /** APPEND an arriving vector batch to a frozen index: assign and
    * encode the arrivals through the index's FROZEN quantizers
    * (loaded coarse/fine centroids and PQ codebook — the d15/d18
    * frozen-index discipline: increments never move the layout) and
    * append the resulting (vec_id, label, cell) and (vec_id, m,
    * cw_id) rows to the bucketed tables, preserving the bucket spec
    * so post-append searches keep the shuffle-free candidate join.
    * Cost is O(arrivals × k): two broadcast assignments + one
    * codebook distance groupBy — never a corpus pass. The staleness
    * monitor (qa04) owns the WHEN-to-refreeze decision as appended
    * mass drifts from the frozen centroids; re-freezing is one
    * [[shipIvfpqIndex]] call. `newVecs` carries (vec_id, label,
    * embedding); appending an already-present vec_id is the caller's
    * bug (d01/d19 own arrival dedup). CONTRACT: the same arrivals
    * must also land in the embeddings source the searches read —
    * the index stores cells/codes only, and the exact rerank re-reads
    * vectors by id (a post-append search whose ADC top-20 reaches an
    * arrival absent from the embeddings frame fails loudly — the
    * ivfpqSearch coverage guard — rather than silently omitting it). */
  def appendToFrozenIndex(newVecs: DataFrame, name: String): Unit = {
    val spark = newVecs.sparkSession
    val idx = graft.sources.AnnIndexStore.load(spark, name)
    val e = newVecs
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv")))
    val assignNew = assignCells(e, idx.coarse, idx.f2c)
      .join(e.select("vec_id", "label"), "vec_id")
      .select("vec_id", "label", "cell")
    val codesNew = pqCodes(e, idx.codebook)
    graft.sources.AnnIndexStore.append(assignNew, codesNew, name)
  }

  /** CLOSE THE qa04 DRIFT→REFREEZE LOOP for the ANN index (VERDICT
    * r11 #5's sibling for this family — media got
    * [[graft.sources.MediaIndexStore.refreezeIfStale]]): grade an
    * arriving batch's fit against the LIVE generation's FROZEN fine
    * centroids (qa04's fit-drift signal, measured against the index
    * actually serving searches rather than freshly derived
    * centroids), and when the arrivals' mean cosine-to-own-centroid
    * sits more than `maxFitDriftMicro` micro-cosines below the
    * corpus's own, re-freeze over corpus ∪ arrivals through one
    * [[shipIvfpqIndex]] pass. Returns the new generation when it
    * fired.
    *
    * The trip decision is integer-exact: per-side fits are sums of
    * floor(cos·1e6) longs over exact counts (the qa04 discipline),
    * compared by BigInt cross-multiplication — no float edge decides
    * a refreeze.
    *
    * Scale shape: two bounded-k broadcast fit passes (O(n×k), the
    * cost class of the monitor itself) + the freeze's one corpus
    * pass only when tripped. A bound reader survives the automated
    * flip for `retain` further refreezes (the
    * [[graft.sources.AnnIndexStore.write]] retention contract);
    * RefreezeLoopSpec drives the full loop. `corpus` and `arrivals`
    * carry (vec_id, label, embedding); the caller owns landing the
    * same arrivals in the embeddings source (the
    * [[appendToFrozenIndex]] contract). */
  def refreezeIfStale(corpus: DataFrame, arrivals: DataFrame, name: String,
                      maxFitDriftMicro: Long = 100000L,
                      buckets: Int = 8): Option[Long] = {
    val spark = corpus.sparkSession
    // ONE lease hold across index load → drift grade → re-ship
    // (ADVICE r13, the sibling stores' rule: a pointer read outside
    // the lease lets a committed append landing before the flip be
    // silently dropped from the new generation)
    graft.sources.FreezeStore.withFamilyLease(spark, name) {
    val idx = graft.sources.AnnIndexStore.load(spark, name)
    val cents = idx.f2c.select(col("f_id").as("c_id"),
      col("f_qv").as("c_qv"), col("f_nrm").as("c_nrm"))
    def quant(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv")))
    val (qc, qa) = (quant(corpus), quant(arrivals))
    def fit(e: DataFrame): (Long, Long) = {
      val r = Dedup.cellFit(e.select("vec_id", "qv", "nrm"), cents)
        .agg(sum(floor(col("cos") * 1000000.0).cast("long")).as("s"),
          count(lit(1)).as("n")).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
    val (cs, cn) = fit(qc)
    val (as_, an) = fit(qa)
    // stale ⇔ as/an < cs/cn − d ⇔ as·cn < cs·an − d·an·cn (exact)
    val stale = an > 0 && cn > 0 &&
      BigInt(as_) * cn < BigInt(cs) * an - BigInt(maxFitDriftMicro) * an * cn
    if (!stale) None
    else Some(shipIvfpqIndexFrom(qc.unionByName(qa), name, buckets))
    }
  }

  /** SEARCH a frozen index shipped by [[shipIvfpqIndex]] from a
    * fresh session: load the persisted components and run the
    * literal [[ivfpqSearch]] algebra — query routing and the ADC
    * lookup table are query-batch-sized and computed live (they
    * depend on the arriving queries, not the corpus); everything
    * corpus-scale reads from the bucketed tables. Rows are identical
    * to the in-memory s13/s15 (AnnShipSpec pins it build→write→new
    * session→load). */
  def searchFrozenIvfpq(spark: SparkSession, dir: String, name: String,
      queryPred: Column = col("vec_id") % 20 === 0,
      probeFine: Int = 2,
      labelFiltered: Boolean = false): DataFrame =
    searchFrozenIvfpqFrom(quantized(spark, dir), name, queryPred,
      probeFine, labelFiltered)

  /** s22: FILTERED SEARCH ON THE FROZEN ANN INDEX (VERDICT r12 #1 —
    * the one capability the shipped index couldn't serve): s15's
    * tenant/label-scoped IVFPQ search off the SHIPPED bucketed tables
    * instead of a live corpus build. The shipped `assign` already
    * carries (vec_id, label, cell), so the label filter tightens the
    * candidate join key to (cell, label) exactly as live — the index
    * layout stays label-agnostic and shared across tenants, only the
    * probe key narrows (the s11/s15 rule); fine probes at 4 per the
    * nprobe-under-filter rule. Rows are EXACTLY s15's (AnnShipSpec
    * pins frozen==live; the oracle is literally s15's SQL, so the
    * frozen filtered read path is full-oracle-gated). This key runs
    * the whole lifecycle — ship, then search — because the driver's
    * Verify starts from a fresh session; the bench's
    * s15_frozen_filtered entry times the search alone with the ship
    * amortized out (the 100 TB read-path number). */
  def s22FrozenFiltered(spark: SparkSession, dir: String): DataFrame = {
    shipIvfpqIndex(spark, dir, "s22_frozen")
    searchFrozenIvfpq(spark, dir, "s22_frozen",
      probeFine = 4, labelFiltered = true)
  }

  /** The frozen search over any (vec_id, label, qv, nrm) frame —
    * [[graft.Stress]] drives it with a replicated corpus and a FIXED
    * query batch (the production asymmetry). */
  private[graft] def searchFrozenIvfpqFrom(e: DataFrame, name: String,
      queryPred: Column, probeFine: Int = 2,
      labelFiltered: Boolean = false): DataFrame = {
    val spark = e.sparkSession
    val idx = graft.sources.AnnIndexStore.load(spark, name)
    val adcTab = pqDistances(e.filter(queryPred),
        idx.codebook.select(col("vec_id"), col("qv")))
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id"), col("d2").as("qd2"))
    ivfpqSearch(e, idx.coarse, idx.f2c, idx.assign, idx.codes, adcTab,
      queryPred, probeFine, labelFiltered)
  }

  /** SEARCH a frozen index for an EXPLICIT batch of arriving queries
    * (vec_id, label, embedding) — the production read path's true
    * shape: the query set is an argument, not an eval-rule selection
    * out of the corpus. Routing and the ADC lookup table are
    * query-batch-sized and computed live through the index's FROZEN
    * quantizers; everything corpus-scale reads from the bucketed
    * tables; `corpus` backs only the exact rerank (vectors stay at
    * rest — the index ships cells/codes, never raw vectors). The
    * pointer is resolved ONCE per call, so every table a call binds
    * is from one generation — the property
    * [[graft.streaming.AnnStream]] leans on to make each streaming
    * micro-batch wholly-old-or-wholly-new across a mid-stream
    * re-freeze. Rows equal [[searchFrozenIvfpq]] restricted to the
    * same query ids (AnnStreamSpec pins it). */
  def searchFrozenForQueries(queries: DataFrame, corpus: DataFrame,
      name: String, probeFine: Int = 2,
      labelFiltered: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val idx = graft.sources.AnnIndexStore.load(spark, name)
    val qe = queries
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv")))
      .select(col("vec_id").as("q_id"), col("label"),
        col("qv").as("qv_q"), col("nrm").as("nq"))
    val adcTab = pqDistances(
        qe.select(col("q_id").as("vec_id"), col("qv_q").as("qv")),
        idx.codebook.select(col("vec_id"), col("qv")))
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id"),
        col("d2").as("qd2"))
    ivfpqSearchQ(qe, corpus, idx.coarse, idx.f2c, idx.assign, idx.codes,
      adcTab, probeFine, labelFiltered)
  }

  /** s14's probe grid — shared with the generated oracle SQL so the
    * two sides cannot drift. */
  private[graft] val FilteredProbeGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /** s16's probe grid — shared with its generated oracle SQL. */
  private[graft] val IvfpqProbeGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /** s16: IVFPQ recall-vs-probe sweep — the ADC-loss-vs-probe-depth
    * trade of the composed index as a driver-gated curve (VERDICT r6
    * #4): per probe_fine ∈ {1,2,4,8} (probeCoarse held at s13's 2),
    * recall@5 of the full IVFPQ pipeline (routing + ADC + top-20
    * exact rerank) against the exact brute-force truth. s12 pins the
    * routing alone; this pins routing AND code approximation
    * together — the number an IVFPQ deployment actually tunes nprobe
    * against, since deeper probes recover routing misses but never
    * ADC misranking beyond the rerank window.
    *
    * Plan shape: corpus-side assignment is ivf2Index's shared
    * OpCache entry and the PQ codes are cache-materialized once
    * across the four settings (cacheCodes — only the query-side
    * routing and the per-candidate ADC sums repeat); truth and the
    * per-run top-5 sets are queries×5 rows, so the sweep's joins and
    * final groupBy are micro-joins. */
  def s16IvfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(spark, dir)
    val truth = s01AnnBrute(spark, dir).select(col("q_id"), col("cand_id"))
    val runs = IvfpqProbeGrid.map { pf =>
      ivfpqFrom(e, probeFine = pf, cacheCodes = true)
        .select(col("q_id"), col("cand_id"))
        .withColumn("probe_fine", lit(pf))
        .withColumn("hit", lit(1))
    }.reduce(_ union _)
    val grid = truth.crossJoin(broadcast(IvfpqProbeGrid.toDF("probe_fine")))
    grid.join(runs, Seq("q_id", "cand_id", "probe_fine"), "left")
      .groupBy("probe_fine")
      .agg(count(col("hit")).as("n_hits"),
        countDistinct(col("q_id")).as("n_queries"))
      .select(col("probe_fine"), col("n_hits"), col("n_queries"),
        (col("n_hits").cast("double") / (col("n_queries") * 5)).as("recall"))
      .orderBy("probe_fine")
  }

  /** s14: FILTERED recall-vs-probe sweep — s12's driver-gated curve
    * for the FILTERED index (VERDICT r5 #3): per probe_fine ∈
    * {1,2,4,8} (probeCoarse held at s11's 2), recall@5 of the
    * label-filtered hierarchical IVF against the exact-filtered s09
    * truth. This is the data behind the nprobe-under-filter rule:
    * s11 ships at probe_fine = 4 because the label filter thins
    * every probed cell; this query makes that constant a measured
    * point on an oracle-checked curve instead of a fixture-pinned
    * magic number.
    *
    * Plan shape: corpus-side assignment is computed ONCE (ivf2Index's
    * OpCache entry, shared across the four probe settings and with
    * s08/s11/s12/s13); only the tiny query-side routing repeats per
    * setting. Truth and per-run top-5 sets are queries×≤5 rows, so
    * the sweep's joins and the final groupBy are micro-joins. The
    * denominator is the TRUTH row count (not queries×5): a label
    * with fewer than 5 same-label candidates legitimately yields a
    * shorter truth list, and recall is measured against what exists. */
  def s14FilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(spark, dir)
    val truth = s09FilteredAnn(spark, dir).select(col("q_id"), col("cand_id"))
    val runs = FilteredProbeGrid.map { pf =>
      ivf2Core(e, probeCoarse = 2, probeFine = pf, labelFiltered = true)
        .select(col("q_id"), col("cand_id"))
        .withColumn("probe_fine", lit(pf))
        .withColumn("hit", lit(1))
    }.reduce(_ union _)
    val grid = truth.crossJoin(broadcast(FilteredProbeGrid.toDF("probe_fine")))
    grid.join(runs, Seq("q_id", "cand_id", "probe_fine"), "left")
      .groupBy("probe_fine")
      .agg(count(col("hit")).as("n_hits"),
        count(lit(1)).as("n_truth"),
        countDistinct(col("q_id")).as("n_queries"))
      .select(col("probe_fine"), col("n_hits"), col("n_truth"),
        col("n_queries"),
        (col("n_hits").cast("double") / col("n_truth")).as("recall"))
      .orderBy("probe_fine")
  }

  /** s17: FILTERED IVFPQ recall-vs-probe sweep — the last cell of
    * the curve matrix {routing, IVFPQ} × {unfiltered, filtered}
    * (s12 routing/unfiltered, s14 routing/filtered, s16
    * IVFPQ/unfiltered): per probe_fine ∈ {1,2,4,8} (coarse at 2),
    * recall of the label-filtered IVFPQ pipeline (s15's shape)
    * against the exact-filtered s09 truth. This is the curve a
    * tenant-scoped PQ deployment tunes nprobe against — the filter
    * thins probed cells AND the ADC misranks within them, and only
    * the composed measurement shows what probe depth buys back.
    *
    * Plan shape: ivf2Index's assignment and the PQ codes are each
    * computed once across the sweep (OpCache); the denominator is
    * the TRUTH row count (s14's rule — short same-label truth lists
    * divide by what exists, not queries×5). */
  def s17FilteredIvfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(spark, dir)
    val truth = s09FilteredAnn(spark, dir).select(col("q_id"), col("cand_id"))
    val runs = FilteredProbeGrid.map { pf =>
      ivfpqFrom(e, probeFine = pf, labelFiltered = true, cacheCodes = true)
        .select(col("q_id"), col("cand_id"))
        .withColumn("probe_fine", lit(pf))
        .withColumn("hit", lit(1))
    }.reduce(_ union _)
    val grid = truth.crossJoin(broadcast(FilteredProbeGrid.toDF("probe_fine")))
    grid.join(runs, Seq("q_id", "cand_id", "probe_fine"), "left")
      .groupBy("probe_fine")
      .agg(count(col("hit")).as("n_hits"),
        count(lit(1)).as("n_truth"),
        countDistinct(col("q_id")).as("n_queries"))
      .select(col("probe_fine"), col("n_hits"), col("n_truth"),
        col("n_queries"),
        (col("n_hits").cast("double") / col("n_truth")).as("recall"))
      .orderBy("probe_fine")
  }

  /** s09: FILTERED ANN — top-5 restricted to candidates sharing the
    * query's label (the metadata-filtered vector search every
    * retrieval deployment ends up needing: "nearest neighbors WHERE
    * tenant/language/split = X"). Pre-filtering beats post-filtering
    * a global top-k, which can return < k (or zero) survivors for a
    * selective predicate.
    *
    * Plan shape: the label equi-join IS the filter — candidates never
    * leave their label block, the (small) query set broadcasts, and
    * the per-query window ranks only same-label survivors. Same
    * blocked-join family as d05; no cross join, no global window.
    * Like s01, this is the exact-within-filter BASELINE: the query
    * broadcast is n/20 of the corpus by fixture rule and the scoring
    * is brute within each label block — a production deployment
    * composes the same label pre-filter with the IVF cells of
    * s03/s08 (filter on (label, cell) instead of label). */
  def s09FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    val qs = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("label"),
        col("qv").as("qv_q"), col("nrm").as("nq"))
    val cands = e.select(col("vec_id").as("cand_id"), col("label"),
      col("qv").as("qv_c"), col("nrm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    cands.join(broadcast(qs), "label")
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("label"), col("cand_id"),
        qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "label", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** s10: FILTERED IVF — s09's label pre-filter composed with the
    * production bounded-k IVF of s03: candidates must share BOTH the
    * query's probed cell and its label, so the scored set shrinks to
    * the (cell, label) block intersection — the shape a production
    * filtered-search deployment actually runs (s09 is the exact
    * baseline; scanning a whole label block stops being affordable
    * when one tenant/language owns most of the corpus).
    *
    * Plan shape: s03's linear n×k assignment (constant-size centroid
    * broadcast) + one equi-join keyed on (cell, label) — the filter
    * costs nothing extra, it only tightens the join key. */
  def s10FilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    val scored = e.crossJoin(broadcast(boundedCents(e)))
      .select(col("vec_id"), col("label"), col("qv"), col("nrm"), col("c_id"),
        qcos(qdot(col("qv"), col("c_qv")), col("nrm"), col("c_nrm")).as("c_cos"))
    val byCell = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    val ranked = scored.withColumn("crn", row_number().over(byCell))
    val assign = OpCache.cached(ranked.filter(col("crn") === 1)
      .select(col("vec_id"), col("label"), col("qv"), col("nrm"),
        col("c_id").as("cell")))
    // top-4 probes, not s03's top-2: the label filter thins every
    // probed cell, so filtered search buys recall back by probing
    // deeper (the nprobe-under-filter rule every IVF deployment uses)
    val probes = ranked.filter(col("vec_id") % 20 === 0 && col("crn") <= 4)
      .select(col("vec_id").as("q_id"), col("label"), col("qv").as("qv_q"),
        col("nrm").as("nq"), col("c_id").as("cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    assign.join(broadcast(probes), Seq("cell", "label"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("label"), col("cell"), col("vec_id").as("cand_id"),
        qcos(qdot(col("qv_q"), col("qv")), col("nq"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "label", "rank", "cand_id", "cell", "cos")
      .orderBy("q_id", "rank")
  }

  /** Exact int64 squared L2 between two quantized subvectors. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** s04: product-quantization ANN — the memory-compression scale
    * path (a PQ code is M bytes per vector vs d floats, which is what
    * makes billion-vector indexes fit a cluster's RAM).
    *
    *  - Codebook: per subspace (4 × 16 dims), the codewords are the
    *    subvectors of every 50th vector — deterministic, shared with
    *    the oracle, tiny (broadcast).
    *  - Encoding: argmin exact int64 L2 per (vector, subspace) —
    *    `min(struct(d2, cw_id))` in one map-side-combinable groupBy,
    *    deterministic tie-break, no window.
    *  - Search: asymmetric distance (ADC) — the query's distance to
    *    each codeword is precomputed (queries × M × K rows,
    *    broadcast), so a candidate's approx distance is an M-term
    *    sum of table lookups, never a d-dim dot.
    *  - Rerank: exact integer cosine on the top-20 ADC candidates,
    *    emit top-5.
    */
  def s04AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    pqCore(e, e.filter(col("vec_id") % CentroidStride === 0))
  }

  /** s04 on the PRODUCTION codeword rule (fixed k per subspace — see
    * [[boundedSeeds]]): the oracle every-50th rule grows the
    * codebook (and the queries' ADC tables) with n; fixed k keeps
    * both broadcasts constant-size and the encoding cost linear. */
  def s04Production(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    pqCore(e, boundedSeeds(e))
  }

  /** The (vector, subspace, codeword) exact int64 L2 table — the PQ
    * training/encoding substrate shared by the flat-PQ queries (s04)
    * and the IVFPQ composition (s13). 4 subspaces × 16 dims; the
    * codebook broadcasts. */
  private[graft] def pqDistances(e: DataFrame, cwSource: DataFrame): DataFrame = {
    val M = 4
    val sub = 16
    def subviews(src: DataFrame, idCol: String, vecCol: String): DataFrame =
      (0 until M).map(m =>
        src.select(col(idCol), lit(m).as("m"),
          slice(col(vecCol), m * sub + 1, sub).as("v")))
        .reduce(_ union _)
    val cbm = subviews(cwSource
        .select(col("vec_id").as("cw_id"), col("qv")), "cw_id", "qv")
      .withColumnRenamed("v", "cw")
    val vm = subviews(e.select("vec_id", "qv"), "vec_id", "qv")
    vm.join(broadcast(cbm), "m")
      .select(col("vec_id"), col("m"), col("cw_id"),
        l2sq(col("v"), col("cw")).as("d2"))
  }

  private def pqCore(e: DataFrame, cwSource: DataFrame): DataFrame = {
    val d2 = pqDistances(e, cwSource)
    val codes = codesOf(d2).withColumnRenamed("cw_id", "code")
    // queries' distances to every codeword: the ADC lookup table
    val adcTab = d2.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id"), col("d2").as("qd2"))
    val approx = codes.join(broadcast(adcTab),
        codes("m") === adcTab("m") && codes("code") === adcTab("cw_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd2").as("adc"))
    val cw20 = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val cands = approx.withColumn("crn", row_number().over(cw20))
      .filter(col("crn") <= 20)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("adc"))
    // broadcast only the 1-in-20 query vectors, not the whole corpus
    val qSide = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qv_q"), col("nrm").as("nq"))
    val cSide = e.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("nrm").as("nc"))
    val reranked = cands.join(broadcast(qSide), "q_id").join(cSide, "cand_id")
      .select(col("q_id"), col("cand_id"), col("adc"),
        qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "cand_id", "adc", "cos")
      .orderBy("q_id", "rank")
  }

  /** s05: ANN recall evaluation — recall@5 of the LSH (s02) and IVF
    * (s03) indexes against the exact brute-force top-5 (s01), the
    * measurement an ANN deployment runs before trading exactness for
    * speed. Output is per (query, method).
    *
    * Plan shape: the three ANN results are tiny (queries × 5 rows);
    * the truth set broadcasts into a left join and one groupBy
    * produces the per-query hit counts. All heavy lifting is inside
    * the underlying index queries; identical cached `quantized`
    * plans are shared through Spark's cache manager.
    */
  /** s07: cosine RANGE search — everything within the threshold, not
    * a fixed top-k (the dedup/recall-sweep companion to s01: "give me
    * every candidate at least this similar"). Same broadcast-query
    * scan shape as s01 but with NO window at all — the per-row
    * threshold filter runs inside the scan's codegen stage, so output
    * size is the only data-dependent part. */
  def s07RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    val qs = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qv_q"), col("nrm").as("nq"))
    e.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("nrm").as("nc"))
      .join(broadcast(qs), col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos"))
      .filter(col("cos") >= 0.25)
      .orderBy("q_id", "cand_id")
  }

  def s05AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = s01AnnBrute(spark, dir).select(col("q_id"), col("cand_id"))
      .withColumn("hit", lit(1))
    val approx =
      s02AnnLsh(spark, dir).select(col("q_id"), col("cand_id"))
        .withColumn("method", lit("lsh"))
        .union(
          s03AnnIvf(spark, dir).select(col("q_id"), col("cand_id"))
            .withColumn("method", lit("ivf")))
    approx.join(broadcast(truth), Seq("q_id", "cand_id"), "left")
      .groupBy("q_id", "method")
      .agg(count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("method"), col("n_hit"),
        (col("n_hit").cast("double") / 5.0).as("recall"))
      .orderBy("q_id", "method")
  }

  /** s06: per-label centroids + each vector's cosine to its own
    * label centroid — the embedding-space QA pass that surfaces
    * mislabeled/outlier vectors before they poison a training run.
    *
    * Exactness trick: cosine to the MEAN is identical to cosine to
    * the SUM (the 1/n factor cancels in the ratio), so the centroid
    * stays an exact int64 per-dimension sum — no division, no float
    * drift, bit-equal in DuckDB.
    *
    * Plan shape: the per-dimension sums are 64 agg columns of ONE
    * groupBy(label) — map-side combinable, no row explosion, no
    * window; the tiny centroid table broadcasts back onto the corpus
    * for a per-row codegen'd dot product. Two narrow passes over the
    * embeddings at any scale. */
  def s06LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    // ONE array-buffered native aggregate (graft.plans.LongArraySum)
    // instead of 64 sum(element_at) slots — same map-side-combinable
    // hash agg, without the 65-column codegen bulk (see meanCents)
    val cents = e.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.plans.LongArraySum(col("qv")).as("cv"))
      .withColumn("cnrm", qnorm2(col("cv")))
    e.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"), col("n_vecs"),
        qcos(qdot(col("qv"), col("cv")), col("nrm"), col("cnrm")).as("cos_centroid"))
      .orderBy("vec_id")
  }

  /** s18: K-MEANS-REFINED coarse quantizer — two unrolled Lloyd
    * iterations over the bounded-k stride seeds, entirely as
    * DataFrame algebra. Every centroid rule in the engine so far
    * (s03/s04/s08/s13/d08/d18/qa04) is the deterministic stride —
    * cheap, frozen-index-friendly, but data-blind: cells are as
    * balanced as the id order happens to make them. Real IVF
    * deployments TRAIN the quantizer (FAISS `train()` = Lloyd's);
    * this operator is that step, and its output is the evidence for
    * when training pays: per cell, occupancy and mean member fit
    * (micro-cosine) under the seed quantizer vs after two refinement
    * rounds.
    *
    * Update rule, exact cross-engine: the new centroid is the
    * element-wise TRUNCATED MEAN of the cell's quantized members —
    * cos(x, mean) == cos(x, positively-scaled mean), so assigning
    * against integer floor-means is spherical k-means with a
    * deterministic rounding both engines compute identically
    * (Spark `(s − s%n)/n` ≡ DuckDB's truncating `//`, exact below
    * 2⁵³).
    * Cells that lose every member drop out (their id simply stops
    * appearing); a zero mean vector is filtered on both sides
    * (c_nrm > 0) so no NaN cosine enters an argmax. Iteration count
    * is FIXED at 2 — unrolled, not a driver loop: each round is one
    * bounded-k broadcast assignment (n×k codegen'd dots) + one
    * 64-column hash aggregate to ≤ k rows; cost 3 assignments + 2
    * mean passes, all map-side-combinable, no window, no shuffle
    * beyond the k-row aggregates. A deployment re-trains at corpus
    * freeze (the d15/d17/d18 re-freeze point qa04 schedules) and
    * ships the refined centroids exactly like the stride ones.
    *
    * KmeansSpec pins: the corpus-weighted mean fit does not regress
    * (Lloyd's monotonicity, surviving the floor rounding on the
    * fixture), cell count stays ≤ k, and every member of a surviving
    * cell scores its own centroid ≥ the seed assignment's floor. */
  def s18KmeansRefine(spark: SparkSession, dir: String): DataFrame =
    s18From(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** Exact TRUNCATED division by a per-row count column — DuckDB's
    * `//` truncates toward zero (measured: -7//2 = -3), and Spark's
    * `%` has Java dividend-sign semantics, so `(s − s%n)/n` is the
    * same truncation; the numerator is exactly divisible, making
    * the double division exact below 2⁵³. */
  private def truncDiv(s: Column, n: Column): Column =
    ((s - (s % n)) / n).cast("long")

  /** The Lloyd update: per cell, the element-wise truncated integer
    * mean of the assigned members — shared by s18 (reporting) and
    * s19 (the refined quantizer's search). */
  private[graft] def meanCents(a: DataFrame, e: DataFrame): DataFrame = {
    // ONE array-buffered native aggregate, not 64 sum(element_at)
    // slots: the 65-column declarative form generated a >64 KB
    // hashAgg output method (Janino refuses; stage fell back to
    // interpreted eval) — graft.plans.LongArraySum keeps the same
    // map-side-combinable hash-agg semantics with a long[] buffer
    a.join(e, "vec_id")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        graft.plans.LongArraySum(col("qv")).as("s"))
      .select(col("cell").as("c_id"),
        // element-wise truncDiv via ONE transform lambda, not 64
        // array(element_at…) slots: the slot form re-inlined the
        // whole 64-term array THREE times (project + norm filter)
        // and topped Janino's 64 KB method cap on this ≤ k-row stage
        transform(col("s"), x => truncDiv(x, col("n"))).as("c_qv"))
      .withColumn("c_nrm", qnorm2(col("c_qv")))
      .filter(col("c_nrm") > 0L)
  }

  /** s18's cents2: the bounded-k seeds after two Lloyd rounds. */
  private[graft] def refinedCents(e: DataFrame): DataFrame = {
    val c1 = meanCents(Dedup.cellFit(e, boundedCents(e)), e)
    meanCents(Dedup.cellFit(e, c1), e)
  }

  /** s18's core over any (vec_id, embedding) frame — [[graft.Stress]]
    * drives it at replicated scale. */
  private[graft] def s18From(vecs: DataFrame): DataFrame = {
    val e = OpCache.cached(vecs
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv")))) // 3 assignments + 2 mean passes
    val a0 = OpCache.cached(Dedup.cellFit(e, boundedCents(e))) // mean pass + report
    val a1 = Dedup.cellFit(e, meanCents(a0, e))
    val a2 = Dedup.cellFit(e, meanCents(a1, e))
    def fitAgg(a: DataFrame, nm: String): DataFrame = a
      .select(col("cell"), floor(col("cos") * 1000000.0).as("cm"))
      .groupBy("cell")
      .agg(count(lit(1)).as(s"n_$nm"), sum("cm").as(s"cs_$nm"))
    fitAgg(a0, "init").join(fitAgg(a2, "final"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_init"), lit(0L)).as("n_init"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        (col("cs_init").cast("double") / col("n_init")).as("mean_cos_init_micro"),
        (col("cs_final").cast("double") / col("n_final")).as("mean_cos_final_micro"))
      .orderBy("cell")
  }

  /** s19: REFINED-QUANTIZER RECALL — does s18's training pay in the
    * retrieval metric, not just in member fit? Per query, recall@5
    * of a top-2-probe one-level IVF search over (a) the bounded-k
    * stride seeds ('seed') and (b) the same seeds after s18's two
    * Lloyd rounds ('refined'), both against the s01 brute-force
    * truth — equal probe budget, equal candidate rule, the ONLY
    * difference is the quantizer. The s05 evaluation harness applied
    * to the train-vs-don't-train decision — measured at sf0.001:
    * mean recall@5 0.464 seed → 0.504 refined (k = 64, 25 queries
    * over 500 vectors): the fit gain s18 reports (0.377 → 0.497
    * mean member cosine) carries through to retrieval. Spec-pinned
    * as a non-regression floor, and driver-gated so the number is
    * an oracle-checked measurement, not a doc claim.
    *
    * Scale shape: two independent n×k broadcast assignments (windows
    * partitioned by vec_id / q_id only), candidate joins keyed on
    * cell, brute truth restricted to the 1-in-20 query rule — an
    * EVALUATION operator by construction (like s01/s05/s12): the
    * truth side is quadratic in queries×corpus and exists to grade
    * the index, not to run in production. */
  def s19RefinedRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = OpCache.cached(Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", qnorm2(col("qv"))))
    val truth = s01AnnBrute(spark, dir).select(col("q_id"), col("cand_id"))
      .withColumn("hit", lit(1))
    def searchTop5(cents: DataFrame, method: String): DataFrame = {
      val scored = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("qv"), col("nrm"), col("c_id"),
          qcos(qdot(col("qv"), col("c_qv")), col("nrm"), col("c_nrm")).as("c_cos"))
      val w = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id"))
      val ranked = scored.withColumn("crn", row_number().over(w))
      val assign = ranked.filter(col("crn") === 1)
        .select(col("vec_id"), col("c_id").as("cell"), col("qv"), col("nrm"))
      val probes = ranked.filter(col("vec_id") % 20 === 0 && col("crn") <= 2)
        .select(col("vec_id").as("q_id"), col("qv").as("qv_q"),
          col("nrm").as("nq"), col("c_id").as("cell"))
      val cands = probes.join(assign, "cell")
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          qcos(qdot(col("qv_q"), col("qv")), col("nq"), col("nrm")).as("cos"))
      val w5 = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      cands.withColumn("rank", row_number().over(w5)).filter(col("rank") <= 5)
        .select(col("q_id"), col("cand_id")).withColumn("method", lit(method))
    }
    searchTop5(boundedCents(e), "seed")
      .union(searchTop5(refinedCents(e), "refined"))
      .join(broadcast(truth), Seq("q_id", "cand_id"), "left")
      .groupBy("q_id", "method")
      .agg(count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("method"), col("n_hit"),
        (col("n_hit").cast("double") / 5.0).as("recall"))
      .orderBy("q_id", "method")
  }

  /** s20: the exact second-moment (Gram) matrix of the quantized
    * embedding corpus — the distributed half of PCA/whitening: a
    * deployment computes G[i,j] = Σ_n q_n[i]·q_n[j] across the
    * corpus, then eigendecomposes the dims×dims result wherever it
    * likes (it is 2080 rows at ANY corpus size — the mergeable-
    * summary shape of the sketch suite, here for second moments,
    * exact instead of approximate).
    *
    * Plan: per vector, the upper-triangle outer product flattens to
    * one 2080-long array (pure HOF transform — no join, no
    * explode), and the corpus reduces through ONE
    * [[graft.plans.LongArraySum]] native aggregate (map-side
    * combinable long[] buffer, the s06/s18 machinery) — a single
    * hash-agg pass over 100 TB with constant-size state. The (i, j)
    * labels rejoin by the closed-form triangular index
    * k = (i−1)·65 − i(i−1)/2 + (j−i+1), identical integer algebra
    * in the oracle. Quantization is exact (1e4-scaled int64, the
    * d08 contract), so both engines sum identical integers. */
  def s20GramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val e = Tables.embeddings(spark, dir)
      .select(quantize(col("embedding")).as("qv"))
      .filter(size(col("qv")) === dims)
    val outer = expr(
      """flatten(transform(sequence(1, size(qv)), i ->
        |  transform(sequence(i, size(qv)), j ->
        |    element_at(qv, i) * element_at(qv, j))))""".stripMargin)
    val g = e.select(outer.as("op"))
      .agg(count(lit(1)).as("n_vecs"), graft.plans.LongArraySum(col("op")).as("garr"))
    val pairs = spark.range(1, dims + 1).toDF("i")
      .select(col("i"), explode(sequence(col("i"), lit(dims.toLong))).as("j"))
    pairs.crossJoin(broadcast(g))
      .select(col("i"), col("j"),
        element_at(col("garr"),
          expr("cast((i - 1) * 65 - (i * (i - 1)) div 2 + (j - i + 1) as int)"))
          .as("gram"),
        col("n_vecs"))
      .orderBy("i", "j")
  }

  /** s21: HARD-NEGATIVE MINING — the contrastive-training curation
    * step the similarity family existed to feed: per query, the
    * top-5 highest-cosine candidates of a DIFFERENT label (the
    * confusable negatives a triplet/InfoNCE trainer wants), each
    * reported with its margin below the query's nearest SAME-label
    * positive. A negative with margin ≤ 0 outranks every positive —
    * the "hardest" class the miner exists to surface.
    *
    * The new predicate class here: the candidate filter depends on
    * BOTH join sides (c_label ≠ q_label), not a constant — s09's
    * filtered search prunes on a literal, this one on a per-query
    * attribute carried through the broadcast.
    *
    * Oracle parity: cosines are the exact-integer qdot/qcos
    * discipline; the margin subtracts two cosines that are
    * themselves identical double expressions in both engines — one
    * subtraction of identical operands, no accumulation.
    *
    * Scale shape: s01's evaluation-side brute scan (queries ≪
    * corpus, broadcast query side, corpus scanned once, no shuffle
    * of the big side) with the scored frame OpCache-pinned for its
    * two consumers (positive top-1, negative top-5) — unpinned, both
    * windows would re-scan the corpus join. Both windows partition
    * by q_id. A production deployment swaps the brute candidate pass
    * for the frozen IVFPQ index's top-k (s13's machinery) and keeps
    * this ranking algebra unchanged. */
  def s21HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    minedAgainst(
      e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("qv").as("qv_q"), col("nrm").as("nq")),
      e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("qv").as("qv_c"), col("nrm").as("nc")))
  }

  /** The mining RANKING ALGEBRA factored to one definition (the
    * BloomStream/AnnStream shared-algebra rule): batch s21 and the
    * streaming twin ([[graft.streaming.AnnStream.mineStream]]) both
    * run literally this — positives and negatives rank in separate
    * windows over ONE scored frame (OpCache-pinned for the two
    * consumers), margin = one subtraction of identical doubles. */
  private[graft] def minedAgainst(qs: DataFrame, cands: DataFrame): DataFrame = {
    val scored = OpCache.cached(
      cands.join(broadcast(qs), col("q_id") =!= col("cand_id"))
        .select(col("q_id"), col("q_label"), col("cand_id"), col("c_label"),
          qcos(qdot(col("qv_q"), col("qv_c")), col("nq"), col("nc")).as("cos")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val pos = scored.filter(col("c_label") === col("q_label"))
      .withColumn("prn", row_number().over(w)).filter(col("prn") === 1)
      .select(col("q_id"), col("cand_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = scored.filter(col("c_label") =!= col("q_label"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("q_label"), col("rank"),
        col("cand_id").as("neg_id"), col("c_label").as("neg_label"),
        col("cos").as("neg_cos"))
    neg.join(pos, "q_id")
      .select(col("q_id"), col("q_label"), col("rank"), col("neg_id"),
        col("neg_label"), col("neg_cos"), col("pos_id"), col("pos_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("q_id", "rank")
  }

  /** Arriving RAW query vectors (vec_id, label, embedding) mined
    * against the at-rest quantized corpus — the per-micro-batch core
    * of the streaming miner: arrivals quantize exactly like the
    * corpus did (shared [[graft.functions.TextFns.quantize]]), so a
    * vector mined from the stream scores identically to the same
    * vector mined in batch. */
  private[graft] def minedForQueries(queries: DataFrame,
                                     corpus: DataFrame): DataFrame =
    minedAgainst(
      queries.select(col("vec_id").as("q_id"), col("label").as("q_label"),
          quantize(col("embedding")).as("qv_q"))
        .withColumn("nq", qnorm2(col("qv_q"))),
      corpus.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("qv").as("qv_c"), col("nrm").as("nc")))

  val oracles: Map[String, String] = {
    val qCte =
      """q AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, qv,
        |    CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS nrm FROM q)""".stripMargin

    // s18's three assignment rounds and two floor-mean updates are
    // GENERATED from one fragment pair — the unrolled Lloyd rounds
    // cannot drift from each other
    def s18Assign(cents: String, out: String): String =
      s"""s18s$out AS (SELECT v.vec_id, c.c_id,
         |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
         |  FROM n v CROSS JOIN $cents c),
         |s18a$out AS (SELECT vec_id, cell, cos FROM (SELECT vec_id, c_id AS cell, c_cos AS cos,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn FROM s18s$out) t
         |  WHERE rn = 1)""".stripMargin
    def s18Mean(a: String, out: String): String =
      s"""s18q$out AS (SELECT x.cell, v.qv FROM s18a$a x JOIN n v USING (vec_id)),
         |s18m$out AS (SELECT cell, i, CAST(SUM(qv[i]) AS BIGINT) // COUNT(*) AS mv
         |  FROM s18q$out CROSS JOIN generate_series(1, 64) g(i) GROUP BY cell, i),
         |s18l$out AS (SELECT cell AS c_id, list(mv ORDER BY i) AS c_qv FROM s18m$out GROUP BY cell),
         |$out AS (SELECT c_id, c_qv,
         |    CAST(list_aggregate(list_transform(c_qv, x -> x * x), 'sum') AS BIGINT) AS c_nrm
         |  FROM s18l$out
         |  WHERE CAST(list_aggregate(list_transform(c_qv, x -> x * x), 'sum') AS BIGINT) > 0)""".stripMargin
    val s18Sql =
      s"""WITH $qCte,
         |cents0 AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n
         |           WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0),
         |${s18Assign("cents0", "0")},
         |${s18Mean("0", "cents1")},
         |${s18Assign("cents1", "1")},
         |${s18Mean("1", "cents2")},
         |${s18Assign("cents2", "2")},
         |i0 AS (SELECT cell, COUNT(*) AS n_init,
         |    CAST(SUM(CAST(floor(cos * 1000000.0) AS BIGINT)) AS BIGINT) AS cs_init
         |  FROM s18a0 GROUP BY cell),
         |i2 AS (SELECT cell, COUNT(*) AS n_final,
         |    CAST(SUM(CAST(floor(cos * 1000000.0) AS BIGINT)) AS BIGINT) AS cs_final
         |  FROM s18a2 GROUP BY cell)
         |SELECT cell,
         |  COALESCE(n_init, 0) AS n_init,
         |  COALESCE(n_final, 0) AS n_final,
         |  CAST(cs_init AS DOUBLE) / n_init AS mean_cos_init_micro,
         |  CAST(cs_final AS DOUBLE) / n_final AS mean_cos_final_micro
         |FROM i0 FULL OUTER JOIN i2 USING (cell)
         |ORDER BY cell""".stripMargin

    // s19 shares s18's generated assignment/mean fragments for the
    // refined quantizer and ONE search fragment for both methods —
    // the two arms of the comparison cannot drift
    def s19Search(cents: String, m: String): String =
      s"""s19s$m AS (SELECT v.vec_id, v.qv, v.nrm, c.c_id,
         |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
         |  FROM n v CROSS JOIN $cents c),
         |s19r$m AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn FROM s19s$m),
         |s19a$m AS (SELECT vec_id, qv, nrm, c_id AS cell FROM s19r$m WHERE crn = 1),
         |s19p$m AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq, c_id AS cell FROM s19r$m WHERE vec_id % 20 = 0 AND crn <= 2),
         |s19c$m AS (SELECT p.q_id, a.vec_id AS cand_id,
         |    CAST((SELECT SUM(p.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
         |  FROM s19p$m p JOIN s19a$m a ON p.cell = a.cell AND p.q_id <> a.vec_id),
         |s19t$m AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM s19c$m) t
         |  WHERE rank <= 5)""".stripMargin
    val s19Sql =
      s"""WITH $qCte,
         |bscored AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
         |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
         |  FROM n a JOIN n b ON a.vec_id % 20 = 0 AND a.vec_id <> b.vec_id),
         |btop AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM bscored) t
         |  WHERE rank <= 5),
         |cents0 AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n
         |           WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0),
         |${s18Assign("cents0", "0")},
         |${s18Mean("0", "cents1")},
         |${s18Assign("cents1", "1")},
         |${s18Mean("1", "cents2")},
         |${s19Search("cents0", "seed")},
         |${s19Search("cents2", "refined")},
         |ap AS (SELECT q_id, cand_id, 'seed' AS method FROM s19tseed
         |       UNION ALL
         |       SELECT q_id, cand_id, 'refined' AS method FROM s19trefined)
         |SELECT ap.q_id, ap.method, COUNT(b.cand_id) AS n_hit,
         |  CAST(COUNT(b.cand_id) AS DOUBLE) / 5.0 AS recall
         |FROM ap LEFT JOIN btop b ON b.q_id = ap.q_id AND b.cand_id = ap.cand_id
         |GROUP BY ap.q_id, ap.method
         |ORDER BY ap.q_id, ap.method""".stripMargin

    // s14's per-probe-depth CTEs are GENERATED from the same
    // FilteredProbeGrid the Spark side sweeps — the grid cannot drift
    val s14PerPf = FilteredProbeGrid.map { pf =>
      s"""c$pf AS (SELECT q.q_id, a.vec_id AS cand_id,
         |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
         |  FROM (SELECT q_id, label, qv_q, nq, f_id AS cell FROM qfr WHERE rn <= $pf) q
         |  JOIN assign a ON q.cell = a.cell AND q.label = a.label AND q.q_id <> a.vec_id),
         |t$pf AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c$pf) x WHERE r <= 5)""".stripMargin
    }.mkString(",\n")
    val s14AllTop = FilteredProbeGrid.map(pf =>
      s"SELECT CAST($pf AS INTEGER) AS probe_fine, q_id, cand_id FROM t$pf")
      .mkString("\nUNION ALL ")
    val s14Values = FilteredProbeGrid.map(pf => s"(CAST($pf AS INTEGER))")
      .mkString(", ")

    // the two-level index + query-coarse-routing CTE chain shared by
    // the hierarchy oracles, factored for s16 (the earlier oracles
    // keep their identical inline copies)
    val ivf2Cte =
      """coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
        |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
        |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
        |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
        |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
        |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
        |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM fine f CROSS JOIN coarse c),
        |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
        |  WHERE rn = 1),
        |v2cs AS (SELECT v.vec_id, c.c1,
        |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM n v CROSS JOIN coarse c),
        |v2c AS (SELECT vec_id, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
        |  WHERE rn = 1),
        |v2fs AS (SELECT v.vec_id, f.f_id,
        |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
        |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
        |  JOIN f2c f USING (c1)),
        |v2f AS (SELECT vec_id, f_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
        |  WHERE rn = 1),
        |assign AS (SELECT n.vec_id, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
        |qs AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
        |q2cs AS (SELECT q.q_id, q.qv_q, q.nq, c.c1,
        |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM qs q CROSS JOIN coarse c),
        |q2c AS (SELECT q_id, qv_q, nq, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
        |  WHERE rn <= 2),
        |q2fs AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
        |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
        |  FROM q2c q JOIN f2c f USING (c1)),
        |qfr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs)""".stripMargin

    // the bounded-k PQ codebook/encoding CTEs (s13's, verbatim)
    val pqCte =
      """seedk AS (SELECT (SELECT MAX(vec_id) // 64 FROM n) + 1 AS stride),
        |sv AS (SELECT vec_id, m, qv[(m*16+1):(m*16+16)] AS v FROM n, generate_series(0, 3) g(m)),
        |cbm AS (SELECT m, vec_id AS cw_id, qv[(m*16+1):(m*16+16)] AS cw
        |        FROM n, generate_series(0, 3) g(m) WHERE vec_id % (SELECT stride FROM seedk) = 0),
        |pd2 AS (SELECT sv.vec_id, sv.m, cbm.cw_id,
        |    CAST((SELECT SUM((sv.v[i] - cbm.cw[i]) * (sv.v[i] - cbm.cw[i])) FROM generate_series(1, 16) gi(i)) AS BIGINT) AS d2
        |  FROM sv JOIN cbm USING (m)),
        |codes AS (SELECT vec_id, m, cw_id AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn FROM pd2) t
        |  WHERE rn = 1),
        |adct AS (SELECT vec_id AS q_id, m, cw_id, d2 AS qd2 FROM pd2 WHERE vec_id % 20 = 0)""".stripMargin

    // s16's per-probe-depth branches — GENERATED from IvfpqProbeGrid
    // (the s14 pattern): each depth reruns routing restriction + ADC
    // + top-20 exact rerank; the index/code CTEs are shared
    val s16PerPf = IvfpqProbeGrid.map { pf =>
      s"""cd$pf AS (SELECT q.q_id, a.vec_id AS cand_id
         |  FROM (SELECT q_id, f_id AS cell FROM qfr WHERE rn <= $pf) q
         |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
         |ax$pf AS (SELECT cd.q_id, cd.cand_id, CAST(SUM(ad.qd2) AS BIGINT) AS adc
         |  FROM cd$pf cd JOIN codes c ON c.vec_id = cd.cand_id
         |  JOIN adct ad ON ad.q_id = cd.q_id AND ad.m = c.m AND ad.cw_id = c.code
         |  GROUP BY cd.q_id, cd.cand_id),
         |k$pf AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS crn FROM ax$pf) t
         |  WHERE crn <= 20),
         |rr$pf AS (SELECT cd.q_id, cd.cand_id,
         |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
         |  FROM k$pf cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id),
         |t$pf AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM rr$pf) x WHERE r <= 5)""".stripMargin
    }.mkString(",\n")
    val s16AllTop = IvfpqProbeGrid.map(pf =>
      s"SELECT CAST($pf AS INTEGER) AS probe_fine, q_id, cand_id FROM t$pf")
      .mkString("\nUNION ALL ")
    val s16Values = IvfpqProbeGrid.map(pf => s"(CAST($pf AS INTEGER))")
      .mkString(", ")

    // the LABEL-CARRYING variant of the chain (s11/s15's assign/qs/
    // routing columns) for s17 — index CTEs identical, label rides
    // assign and the query routing
    val ivf2CteLbl =
      """coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
        |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
        |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
        |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
        |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
        |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
        |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM fine f CROSS JOIN coarse c),
        |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
        |  WHERE rn = 1),
        |v2cs AS (SELECT v.vec_id, c.c1,
        |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM n v CROSS JOIN coarse c),
        |v2c AS (SELECT vec_id, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
        |  WHERE rn = 1),
        |v2fs AS (SELECT v.vec_id, f.f_id,
        |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
        |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
        |  JOIN f2c f USING (c1)),
        |v2f AS (SELECT vec_id, f_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
        |  WHERE rn = 1),
        |assign AS (SELECT n.vec_id, n.label, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
        |qs AS (SELECT vec_id AS q_id, label, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
        |q2cs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, c.c1,
        |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
        |  FROM qs q CROSS JOIN coarse c),
        |q2c AS (SELECT q_id, label, qv_q, nq, c1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
        |  WHERE rn <= 2),
        |q2fs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, f.f_id,
        |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
        |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
        |  FROM q2c q JOIN f2c f USING (c1)),
        |qfr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs)""".stripMargin

    // s17's per-probe-depth branches — s16's with the candidate join
    // tightened to (cell, label)
    val s17PerPf = FilteredProbeGrid.map { pf =>
      s"""cd$pf AS (SELECT q.q_id, a.vec_id AS cand_id
         |  FROM (SELECT q_id, label, f_id AS cell FROM qfr WHERE rn <= $pf) q
         |  JOIN assign a ON q.cell = a.cell AND q.label = a.label AND q.q_id <> a.vec_id),
         |ax$pf AS (SELECT cd.q_id, cd.cand_id, CAST(SUM(ad.qd2) AS BIGINT) AS adc
         |  FROM cd$pf cd JOIN codes c ON c.vec_id = cd.cand_id
         |  JOIN adct ad ON ad.q_id = cd.q_id AND ad.m = c.m AND ad.cw_id = c.code
         |  GROUP BY cd.q_id, cd.cand_id),
         |k$pf AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS crn FROM ax$pf) t
         |  WHERE crn <= 20),
         |rr$pf AS (SELECT cd.q_id, cd.cand_id,
         |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
         |  FROM k$pf cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id),
         |t$pf AS (SELECT q_id, cand_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM rr$pf) x WHERE r <= 5)""".stripMargin
    }.mkString(",\n")
    val s17AllTop = FilteredProbeGrid.map(pf =>
      s"SELECT CAST($pf AS INTEGER) AS probe_fine, q_id, cand_id FROM t$pf")
      .mkString("\nUNION ALL ")
    val s17Values = FilteredProbeGrid.map(pf => s"(CAST($pf AS INTEGER))")
      .mkString(", ")

    val m = Map(
      "s18_kmeans_refine" -> s18Sql,
      "s19_refined_recall" -> s19Sql,

      "s20_gram_matrix" ->
        """WITH q AS (SELECT
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
          |  FROM embeddings),
          |q64 AS (SELECT qv FROM q WHERE len(qv) = 64),
          |nv AS (SELECT COUNT(*) AS n_vecs FROM q64),
          |cells AS (SELECT ii.i AS i, jj.j AS j, qv[ii.i] * qv[jj.j] AS p
          |  FROM q64,
          |    LATERAL unnest(generate_series(1, 64)) AS ii(i),
          |    LATERAL unnest(generate_series(1, 64)) AS jj(j)
          |  WHERE jj.j >= ii.i)
          |SELECT i, j, CAST(SUM(p) AS BIGINT) AS gram, n_vecs
          |FROM cells CROSS JOIN nv
          |GROUP BY i, j, n_vecs ORDER BY i, j""".stripMargin,

      "s17_filtered_ivfpq_recall" ->
        ("WITH " + qCte + s""",
          |$ivf2CteLbl,
          |$pqCte,
          |tscored AS (SELECT a.q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv_q[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.label = b.label AND a.q_id <> b.vec_id),
          |ttop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM tscored) t
          |  WHERE rank <= 5),
          |$s17PerPf,
          |alltop AS ($s17AllTop),
          |grid AS (SELECT s.probe_fine, b.q_id, b.cand_id
          |         FROM ttop b CROSS JOIN (VALUES $s17Values) s(probe_fine))
          |SELECT g.probe_fine,
          |  COUNT(a.cand_id) AS n_hits,
          |  COUNT(*) AS n_truth,
          |  COUNT(DISTINCT g.q_id) AS n_queries,
          |  CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*) AS recall
          |FROM grid g LEFT JOIN alltop a
          |  ON a.probe_fine = g.probe_fine AND a.q_id = g.q_id AND a.cand_id = g.cand_id
          |GROUP BY g.probe_fine
          |ORDER BY g.probe_fine""".stripMargin),

      "s16_ivfpq_recall" ->
        ("WITH " + qCte + s""",
          |$ivf2Cte,
          |$pqCte,
          |bscored AS (SELECT a.q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv_q[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.q_id <> b.vec_id),
          |btop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM bscored) t
          |  WHERE rank <= 5),
          |$s16PerPf,
          |alltop AS ($s16AllTop),
          |grid AS (SELECT s.probe_fine, b.q_id, b.cand_id
          |         FROM btop b CROSS JOIN (VALUES $s16Values) s(probe_fine))
          |SELECT g.probe_fine,
          |  COUNT(a.cand_id) AS n_hits,
          |  COUNT(DISTINCT g.q_id) AS n_queries,
          |  CAST(COUNT(a.cand_id) AS DOUBLE) / (COUNT(DISTINCT g.q_id) * 5) AS recall
          |FROM grid g LEFT JOIN alltop a
          |  ON a.probe_fine = g.probe_fine AND a.q_id = g.q_id AND a.cand_id = g.cand_id
          |GROUP BY g.probe_fine
          |ORDER BY g.probe_fine""".stripMargin),

      // s11's index/routing CTEs with the fine ranking kept (qfr),
      // prefixed per probe depth; truth = s09's exact-filtered top-5
      "s14_filtered_recall" ->
        ("WITH " + qCte + s""",
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, n.label, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, label, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |tscored AS (SELECT a.q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv_q[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.label = b.label AND a.q_id <> b.vec_id),
          |ttop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM tscored) t
          |  WHERE rank <= 5),
          |q2cs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2c AS (SELECT q_id, label, qv_q, nq, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
          |  WHERE rn <= 2),
          |q2fs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM q2c q JOIN f2c f USING (c1)),
          |qfr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs),
          |$s14PerPf,
          |alltop AS ($s14AllTop),
          |grid AS (SELECT s.probe_fine, b.q_id, b.cand_id
          |         FROM ttop b CROSS JOIN (VALUES $s14Values) s(probe_fine))
          |SELECT g.probe_fine,
          |  COUNT(a.cand_id) AS n_hits,
          |  COUNT(*) AS n_truth,
          |  COUNT(DISTINCT g.q_id) AS n_queries,
          |  CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*) AS recall
          |FROM grid g LEFT JOIN alltop a
          |  ON a.probe_fine = g.probe_fine AND a.q_id = g.q_id AND a.cand_id = g.cand_id
          |GROUP BY g.probe_fine
          |ORDER BY g.probe_fine""".stripMargin),

      // s08's hierarchy CTEs (routing, probes 2/2) composed with
      // s04_production's PQ CTEs (bounded-k codebook, ADC): the IVF
      // restriction enters at `cand`, ADC ranks inside probed cells,
      // exact cosine reranks the top-20
      "s13_ann_ivfpq" ->
        ("WITH " + qCte + """,
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |q2cs AS (SELECT q.q_id, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2c AS (SELECT q_id, qv_q, nq, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
          |  WHERE rn <= 2),
          |q2fs AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM q2c q JOIN f2c f USING (c1)),
          |q2f AS (SELECT q_id, qv_q, nq, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs) t
          |  WHERE rn <= 2),
          |seedk AS (SELECT (SELECT MAX(vec_id) // 64 FROM n) + 1 AS stride),
          |sv AS (SELECT vec_id, m, qv[(m*16+1):(m*16+16)] AS v FROM n, generate_series(0, 3) g(m)),
          |cbm AS (SELECT m, vec_id AS cw_id, qv[(m*16+1):(m*16+16)] AS cw
          |        FROM n, generate_series(0, 3) g(m) WHERE vec_id % (SELECT stride FROM seedk) = 0),
          |pd2 AS (SELECT sv.vec_id, sv.m, cbm.cw_id,
          |    CAST((SELECT SUM((sv.v[i] - cbm.cw[i]) * (sv.v[i] - cbm.cw[i])) FROM generate_series(1, 16) gi(i)) AS BIGINT) AS d2
          |  FROM sv JOIN cbm USING (m)),
          |codes AS (SELECT vec_id, m, cw_id AS code FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn FROM pd2) t
          |  WHERE rn = 1),
          |adct AS (SELECT vec_id AS q_id, m, cw_id, d2 AS qd2 FROM pd2 WHERE vec_id % 20 = 0),
          |cand AS (SELECT q.q_id, q.cell, a.vec_id AS cand_id
          |  FROM q2f q JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |approx AS (SELECT cd.q_id, cd.cell, cd.cand_id, CAST(SUM(ad.qd2) AS BIGINT) AS adc
          |  FROM cand cd JOIN codes c ON c.vec_id = cd.cand_id
          |  JOIN adct ad ON ad.q_id = cd.q_id AND ad.m = c.m AND ad.cw_id = c.code
          |  GROUP BY cd.q_id, cd.cell, cd.cand_id),
          |c20 AS (SELECT q_id, cell, cand_id, adc FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS crn FROM approx) t
          |  WHERE crn <= 20),
          |rr AS (SELECT cd.q_id, cd.cell, cd.cand_id, cd.adc,
          |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
          |  FROM c20 cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id)
          |SELECT q_id, rank, cand_id, cell, adc, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM rr) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      // s13's CTE chain with label carried through assign/queries,
      // fine probes rn <= 4 (nprobe-under-filter), and the candidate
      // join tightened to (cell, label) — the s11 rule applied to the
      // IVFPQ composition; the PQ CTEs are untouched (the code index
      // stays label-agnostic and shared across tenants)
      "s15_filtered_ivfpq" ->
        ("WITH " + qCte + """,
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, n.label, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, label, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |q2cs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2c AS (SELECT q_id, label, qv_q, nq, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
          |  WHERE rn <= 2),
          |q2fs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM q2c q JOIN f2c f USING (c1)),
          |q2f AS (SELECT q_id, label, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs) t
          |  WHERE rn <= 4),
          |seedk AS (SELECT (SELECT MAX(vec_id) // 64 FROM n) + 1 AS stride),
          |sv AS (SELECT vec_id, m, qv[(m*16+1):(m*16+16)] AS v FROM n, generate_series(0, 3) g(m)),
          |cbm AS (SELECT m, vec_id AS cw_id, qv[(m*16+1):(m*16+16)] AS cw
          |        FROM n, generate_series(0, 3) g(m) WHERE vec_id % (SELECT stride FROM seedk) = 0),
          |pd2 AS (SELECT sv.vec_id, sv.m, cbm.cw_id,
          |    CAST((SELECT SUM((sv.v[i] - cbm.cw[i]) * (sv.v[i] - cbm.cw[i])) FROM generate_series(1, 16) gi(i)) AS BIGINT) AS d2
          |  FROM sv JOIN cbm USING (m)),
          |codes AS (SELECT vec_id, m, cw_id AS code FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn FROM pd2) t
          |  WHERE rn = 1),
          |adct AS (SELECT vec_id AS q_id, m, cw_id, d2 AS qd2 FROM pd2 WHERE vec_id % 20 = 0),
          |cand AS (SELECT q.q_id, q.label, q.cell, a.vec_id AS cand_id
          |  FROM q2f q JOIN assign a ON q.cell = a.cell AND q.label = a.label AND q.q_id <> a.vec_id),
          |approx AS (SELECT cd.q_id, cd.label, cd.cell, cd.cand_id, CAST(SUM(ad.qd2) AS BIGINT) AS adc
          |  FROM cand cd JOIN codes c ON c.vec_id = cd.cand_id
          |  JOIN adct ad ON ad.q_id = cd.q_id AND ad.m = c.m AND ad.cw_id = c.code
          |  GROUP BY cd.q_id, cd.label, cd.cell, cd.cand_id),
          |c20 AS (SELECT q_id, label, cell, cand_id, adc FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS crn FROM approx) t
          |  WHERE crn <= 20),
          |rr AS (SELECT cd.q_id, cd.label, cd.cell, cd.cand_id, cd.adc,
          |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
          |  FROM c20 cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id)
          |SELECT q_id, label, rank, cand_id, cell, adc, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM rr) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s07_range_search" ->
        ("WITH " + qCte + """,
          |qs AS (SELECT vec_id AS q_id, qv, nrm FROM n WHERE vec_id % 20 = 0)
          |SELECT q_id, b.vec_id AS cand_id,
          |  CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |FROM qs a JOIN n b ON a.q_id <> b.vec_id
          |WHERE CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.25
          |ORDER BY q_id, cand_id""".stripMargin),

      // s03_production's CTEs with label carried through and the
      // candidate join tightened to (cell, label)
      "s10_filtered_ivf" ->
        ("WITH " + qCte + """,
          |cents AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n
          |          WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0),
          |scored AS (SELECT v.vec_id, v.label, v.qv, v.nrm, c.c_id,
          |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
          |  FROM n v CROSS JOIN cents c),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn FROM scored),
          |assign AS (SELECT vec_id, label, qv, nrm, c_id AS cell FROM ranked WHERE crn = 1),
          |probes AS (SELECT vec_id AS q_id, label, qv AS qv_q, nrm AS nq, c_id AS cell FROM ranked WHERE vec_id % 20 = 0 AND crn <= 4),
          |cands AS (SELECT p.q_id, p.label, p.cell, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(p.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.label = a.label AND p.q_id <> a.vec_id)
          |SELECT q_id, label, rank, cand_id, cell, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM cands) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s09_filtered_ann" ->
        ("WITH " + qCte + """,
          |qs AS (SELECT vec_id AS q_id, label, qv, nrm FROM n WHERE vec_id % 20 = 0),
          |scored AS (SELECT a.q_id, a.label, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.label = b.label AND a.q_id <> b.vec_id)
          |SELECT q_id, label, rank, cand_id, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM scored) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s01_ann_brute" ->
        ("WITH " + qCte + """,
          |qs AS (SELECT vec_id AS q_id, qv, nrm FROM n WHERE vec_id % 20 = 0),
          |scored AS (SELECT a.q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.q_id <> b.vec_id)
          |SELECT q_id, rank, cand_id, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM scored) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      // s01's brute scan with the per-query label carried through:
      // positives and negatives rank in separate windows over the
      // SAME scored frame, margin = one subtraction of identical
      // double expressions
      "s21_hard_negatives" ->
        ("WITH " + qCte + """,
          |qs AS (SELECT vec_id AS q_id, label AS q_label, qv, nrm FROM n WHERE vec_id % 20 = 0),
          |scored AS (SELECT a.q_id, a.q_label, b.vec_id AS cand_id, b.label AS c_label,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.q_id <> b.vec_id),
          |pos AS (SELECT q_id, cand_id AS pos_id, cos AS pos_cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS prn
          |  FROM scored WHERE c_label = q_label) p WHERE prn = 1),
          |neg AS (SELECT q_id, q_label, rank, cand_id AS neg_id, c_label AS neg_label, cos AS neg_cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
          |  FROM scored WHERE c_label <> q_label) t WHERE rank <= 5)
          |SELECT neg.q_id AS q_id, q_label, rank, neg_id, neg_label, neg_cos, pos_id, pos_cos,
          |  pos_cos - neg_cos AS margin
          |FROM neg JOIN pos ON neg.q_id = pos.q_id
          |ORDER BY neg.q_id, rank""".stripMargin),

      // s08's hierarchy with label carried through assign/queries and
      // the candidate join tightened to (cell, label); fine probes
      // rn <= 4 per the nprobe-under-filter rule
      "s11_filtered_ivf2" ->
        ("WITH " + qCte + """,
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, n.label, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, label, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |q2cs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2c AS (SELECT q_id, label, qv_q, nq, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
          |  WHERE rn <= 2),
          |q2fs AS (SELECT q.q_id, q.label, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM q2c q JOIN f2c f USING (c1)),
          |q2f AS (SELECT q_id, label, qv_q, nq, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs) t
          |  WHERE rn <= 4),
          |cand AS (SELECT q.q_id, q.label, q.cell, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM q2f q JOIN assign a ON q.cell = a.cell AND q.label = a.label AND q.q_id <> a.vec_id)
          |SELECT q_id, label, rank, cand_id, cell, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM cand) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      // s08's corpus-side CTEs computed once; only the query-side
      // routing repeats per probe setting. Recall is counted from the
      // brute-truth grid (btop × settings) so a query whose probed
      // cells are empty still divides the denominator
      "s12_probe_recall" ->
        ("WITH " + qCte + """,
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |bscored AS (SELECT a.q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv_q[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN n b ON a.q_id <> b.vec_id),
          |btop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM bscored) t
          |  WHERE rank <= 5),
          |q2cs AS (SELECT q.q_id, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2cr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS crn FROM q2cs),
          |qf1 AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT * FROM q2cr WHERE crn <= 1) q JOIN f2c f USING (c1)),
          |qf1r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM qf1),
          |qf2 AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT * FROM q2cr WHERE crn <= 2) q JOIN f2c f USING (c1)),
          |qf2r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM qf2),
          |qf4 AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT * FROM q2cr WHERE crn <= 4) q JOIN f2c f USING (c1)),
          |qf4r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM qf4),
          |c11 AS (SELECT q.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM (SELECT q_id, qv_q, nq, f_id AS cell FROM qf1r WHERE rn <= 1) q
          |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |t11 AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c11) x WHERE r <= 5),
          |c12 AS (SELECT q.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM (SELECT q_id, qv_q, nq, f_id AS cell FROM qf1r WHERE rn <= 2) q
          |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |t12 AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c12) x WHERE r <= 5),
          |c21 AS (SELECT q.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM (SELECT q_id, qv_q, nq, f_id AS cell FROM qf2r WHERE rn <= 1) q
          |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |t21 AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c21) x WHERE r <= 5),
          |c22 AS (SELECT q.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM (SELECT q_id, qv_q, nq, f_id AS cell FROM qf2r WHERE rn <= 2) q
          |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |t22 AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c22) x WHERE r <= 5),
          |c44 AS (SELECT q.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM (SELECT q_id, qv_q, nq, f_id AS cell FROM qf4r WHERE rn <= 4) q
          |  JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id),
          |t44 AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS r FROM c44) x WHERE r <= 5),
          |alltop AS (
          |  SELECT CAST(1 AS INTEGER) AS probe_coarse, CAST(1 AS INTEGER) AS probe_fine, q_id, cand_id FROM t11
          |  UNION ALL SELECT CAST(1 AS INTEGER), CAST(2 AS INTEGER), q_id, cand_id FROM t12
          |  UNION ALL SELECT CAST(2 AS INTEGER), CAST(1 AS INTEGER), q_id, cand_id FROM t21
          |  UNION ALL SELECT CAST(2 AS INTEGER), CAST(2 AS INTEGER), q_id, cand_id FROM t22
          |  UNION ALL SELECT CAST(4 AS INTEGER), CAST(4 AS INTEGER), q_id, cand_id FROM t44),
          |grid AS (SELECT s.probe_coarse, s.probe_fine, b.q_id, b.cand_id
          |         FROM btop b CROSS JOIN (VALUES (CAST(1 AS INTEGER), CAST(1 AS INTEGER)),
          |           (CAST(1 AS INTEGER), CAST(2 AS INTEGER)), (CAST(2 AS INTEGER), CAST(1 AS INTEGER)),
          |           (CAST(2 AS INTEGER), CAST(2 AS INTEGER)),
          |           (CAST(4 AS INTEGER), CAST(4 AS INTEGER))) s(probe_coarse, probe_fine))
          |SELECT g.probe_coarse, g.probe_fine,
          |  COUNT(a.cand_id) AS n_hits,
          |  COUNT(DISTINCT g.q_id) AS n_queries,
          |  CAST(COUNT(a.cand_id) AS DOUBLE) / (COUNT(DISTINCT g.q_id) * 5) AS recall
          |FROM grid g LEFT JOIN alltop a
          |  ON a.probe_coarse = g.probe_coarse AND a.probe_fine = g.probe_fine
          | AND a.q_id = g.q_id AND a.cand_id = g.cand_id
          |GROUP BY g.probe_coarse, g.probe_fine
          |ORDER BY g.probe_coarse, g.probe_fine""".stripMargin),

      "s08_ann_ivf2" ->
        ("WITH " + qCte + """,
          |coarse AS (SELECT vec_id AS c1, qv AS c1_qv, nrm AS c1_nrm FROM n
          |           WHERE vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |fine AS (SELECT DISTINCT vec_id AS f_id, qv AS f_qv, nrm AS f_nrm FROM n
          |         WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0
          |            OR vec_id % ((SELECT MAX(vec_id) // 8 FROM n) + 1) = 0),
          |f2cs AS (SELECT f.f_id, f.f_qv, f.f_nrm, c.c1,
          |    CAST((SELECT SUM(f.f_qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM fine f CROSS JOIN coarse c),
          |f2c AS (SELECT f_id, f_qv, f_nrm, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY f_id ORDER BY cc DESC, c1) AS rn FROM f2cs) t
          |  WHERE rn = 1),
          |v2cs AS (SELECT v.vec_id, c.c1,
          |    CAST((SELECT SUM(v.qv[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM n v CROSS JOIN coarse c),
          |v2c AS (SELECT vec_id, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c1) AS rn FROM v2cs) t
          |  WHERE rn = 1),
          |v2fs AS (SELECT v.vec_id, f.f_id,
          |    CAST((SELECT SUM(v.qv[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM (SELECT n.*, v2c.c1 FROM n JOIN v2c USING (vec_id)) v
          |  JOIN f2c f USING (c1)),
          |v2f AS (SELECT vec_id, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY fc DESC, f_id) AS rn FROM v2fs) t
          |  WHERE rn = 1),
          |assign AS (SELECT n.vec_id, v2f.cell, n.qv, n.nrm FROM n JOIN v2f USING (vec_id)),
          |qs AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq FROM n WHERE vec_id % 20 = 0),
          |q2cs AS (SELECT q.q_id, q.qv_q, q.nq, c.c1,
          |    CAST((SELECT SUM(q.qv_q[i] * c.c1_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.c1_nrm AS DOUBLE))) AS cc
          |  FROM qs q CROSS JOIN coarse c),
          |q2c AS (SELECT q_id, qv_q, nq, c1 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cc DESC, c1) AS rn FROM q2cs) t
          |  WHERE rn <= 2),
          |q2fs AS (SELECT q.q_id, q.qv_q, q.nq, f.f_id,
          |    CAST((SELECT SUM(q.qv_q[i] * f.f_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(f.f_nrm AS DOUBLE))) AS fc
          |  FROM q2c q JOIN f2c f USING (c1)),
          |q2f AS (SELECT q_id, qv_q, nq, f_id AS cell FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY fc DESC, f_id) AS rn FROM q2fs) t
          |  WHERE rn <= 2),
          |cand AS (SELECT q.q_id, q.cell, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(q.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM q2f q JOIN assign a USING (cell) WHERE q.q_id <> a.vec_id)
          |SELECT q_id, rank, cand_id, cell, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM cand) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      // identical search semantics to s04; only the codeword rule
      // differs (fixed k=64 per subspace via the id-range stride)
      "s04_production" ->
        ("WITH " + qCte + """,
          |seedk AS (SELECT (SELECT MAX(vec_id) // 64 FROM n) + 1 AS stride),
          |sv AS (SELECT vec_id, m, qv[(m*16+1):(m*16+16)] AS v FROM n, generate_series(0, 3) g(m)),
          |cbm AS (SELECT m, vec_id AS cw_id, qv[(m*16+1):(m*16+16)] AS cw
          |        FROM n, generate_series(0, 3) g(m) WHERE vec_id % (SELECT stride FROM seedk) = 0),
          |d2 AS (SELECT sv.vec_id, sv.m, cbm.cw_id,
          |    CAST((SELECT SUM((sv.v[i] - cbm.cw[i]) * (sv.v[i] - cbm.cw[i])) FROM generate_series(1, 16) gi(i)) AS BIGINT) AS d2
          |  FROM sv JOIN cbm USING (m)),
          |codes AS (SELECT vec_id, m, cw_id AS code FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn FROM d2) t
          |  WHERE rn = 1),
          |adct AS (SELECT vec_id AS q_id, m, cw_id, d2 AS qd2 FROM d2 WHERE vec_id % 20 = 0),
          |approx AS (SELECT a.q_id, c.vec_id, CAST(SUM(a.qd2) AS BIGINT) AS adc
          |  FROM codes c JOIN adct a ON a.m = c.m AND a.cw_id = c.code AND a.q_id <> c.vec_id
          |  GROUP BY a.q_id, c.vec_id),
          |cands AS (SELECT q_id, vec_id AS cand_id, adc FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crn FROM approx) t
          |  WHERE crn <= 20),
          |rr AS (SELECT cd.q_id, cd.cand_id, cd.adc,
          |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
          |  FROM cands cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id)
          |SELECT q_id, rank, cand_id, adc, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM rr) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s04_ann_pq" ->
        ("WITH " + qCte + """,
          |sv AS (SELECT vec_id, m, qv[(m*16+1):(m*16+16)] AS v FROM n, generate_series(0, 3) g(m)),
          |cbm AS (SELECT m, vec_id AS cw_id, qv[(m*16+1):(m*16+16)] AS cw
          |        FROM n, generate_series(0, 3) g(m) WHERE vec_id % 50 = 0),
          |d2 AS (SELECT sv.vec_id, sv.m, cbm.cw_id,
          |    CAST((SELECT SUM((sv.v[i] - cbm.cw[i]) * (sv.v[i] - cbm.cw[i])) FROM generate_series(1, 16) gi(i)) AS BIGINT) AS d2
          |  FROM sv JOIN cbm USING (m)),
          |codes AS (SELECT vec_id, m, cw_id AS code FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn FROM d2) t
          |  WHERE rn = 1),
          |adct AS (SELECT vec_id AS q_id, m, cw_id, d2 AS qd2 FROM d2 WHERE vec_id % 20 = 0),
          |approx AS (SELECT a.q_id, c.vec_id, CAST(SUM(a.qd2) AS BIGINT) AS adc
          |  FROM codes c JOIN adct a ON a.m = c.m AND a.cw_id = c.code AND a.q_id <> c.vec_id
          |  GROUP BY a.q_id, c.vec_id),
          |cands AS (SELECT q_id, vec_id AS cand_id, adc FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crn FROM approx) t
          |  WHERE crn <= 20),
          |rr AS (SELECT cd.q_id, cd.cand_id, cd.adc,
          |    CAST((SELECT SUM(q.qv[i] * c.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
          |  FROM cands cd JOIN n q ON q.vec_id = cd.q_id JOIN n c ON c.vec_id = cd.cand_id)
          |SELECT q_id, rank, cand_id, adc, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM rr) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      // identical search semantics to s03; only the centroid rule
      // differs (fixed k=64 via the id-range stride)
      "s03_production" ->
        ("WITH " + qCte + """,
          |cents AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n
          |          WHERE vec_id % ((SELECT MAX(vec_id) // 64 FROM n) + 1) = 0),
          |scored AS (SELECT v.vec_id, v.qv, v.nrm, c.c_id,
          |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
          |  FROM n v CROSS JOIN cents c),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn FROM scored),
          |assign AS (SELECT vec_id, qv, nrm, c_id AS cell FROM ranked WHERE crn = 1),
          |probes AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq, c_id AS cell FROM ranked WHERE vec_id % 20 = 0 AND crn <= 2),
          |cands AS (SELECT p.q_id, p.cell, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(p.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id <> a.vec_id)
          |SELECT q_id, rank, cand_id, cell, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM cands) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s03_ann_ivf" ->
        ("WITH " + qCte + """,
          |cents AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n WHERE vec_id % 50 = 0),
          |scored AS (SELECT v.vec_id, v.qv, v.nrm, c.c_id,
          |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
          |  FROM n v CROSS JOIN cents c),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn FROM scored),
          |assign AS (SELECT vec_id, qv, nrm, c_id AS cell FROM ranked WHERE crn = 1),
          |probes AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq, c_id AS cell FROM ranked WHERE vec_id % 20 = 0 AND crn <= 2),
          |cands AS (SELECT p.q_id, p.cell, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(p.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id <> a.vec_id)
          |SELECT q_id, rank, cand_id, cell, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM cands) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

      "s06_label_centroids" ->
        ("WITH " + qCte + """,
          |cd AS (SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s
          |       FROM n, generate_series(1, 64) g(i) GROUP BY label, i),
          |cn AS (SELECT label, COUNT(*) AS n_vecs FROM n GROUP BY label),
          |cv AS (SELECT label, list(s ORDER BY i) AS cv FROM cd GROUP BY label),
          |cm AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS cnrm FROM cd GROUP BY label)
          |SELECT vec_id, n.label, n_vecs,
          |  CAST((SELECT SUM(n.qv[i] * cv.cv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |    / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(cm.cnrm AS DOUBLE))) AS cos_centroid
          |FROM n JOIN cv USING (label) JOIN cm USING (label) JOIN cn USING (label)
          |ORDER BY vec_id""".stripMargin),

      // recall@5: the three index oracles composed with disjoint CTE
      // names; hit counting is a left join onto the brute-force set
      "s05_ann_recall" ->
        ("WITH " + qCte + """,
          |bscored AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM n a JOIN n b ON a.vec_id % 20 = 0 AND a.vec_id <> b.vec_id),
          |btop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM bscored) t
          |  WHERE rank <= 5),
          |bk AS (SELECT vec_id, qv, nrm,
          |    (SELECT CAST(SUM(CASE WHEN
          |       (SELECT SUM(n.qv[i] * (((1103515245 * (j * 64 + i) + 12345) % 197) - 98))
          |        FROM generate_series(1, 64) g(i)) > 0
          |       THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
          |     FROM generate_series(0, 3) h(j)) AS bucket
          |  FROM n),
          |lscored AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM bk a JOIN bk b ON a.vec_id % 20 = 0 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
          |ltop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM lscored) t
          |  WHERE rank <= 5),
          |cents AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n WHERE vec_id % 50 = 0),
          |iscored AS (SELECT v.vec_id, v.qv, v.nrm, c.c_id,
          |    CAST((SELECT SUM(v.qv[i] * c.c_qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS c_cos
          |  FROM n v CROSS JOIN cents c),
          |iranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn FROM iscored),
          |iassign AS (SELECT vec_id, qv, nrm, c_id AS cell FROM iranked WHERE crn = 1),
          |iprobes AS (SELECT vec_id AS q_id, qv AS qv_q, nrm AS nq, c_id AS cell FROM iranked WHERE vec_id % 20 = 0 AND crn <= 2),
          |icands AS (SELECT p.q_id, a.vec_id AS cand_id,
          |    CAST((SELECT SUM(p.qv_q[i] * a.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
          |  FROM iprobes p JOIN iassign a ON p.cell = a.cell AND p.q_id <> a.vec_id),
          |itop AS (SELECT q_id, cand_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM icands) t
          |  WHERE rank <= 5),
          |ap AS (SELECT q_id, cand_id, 'lsh' AS method FROM ltop
          |       UNION ALL
          |       SELECT q_id, cand_id, 'ivf' AS method FROM itop)
          |SELECT ap.q_id, ap.method, COUNT(b.cand_id) AS n_hit,
          |  CAST(COUNT(b.cand_id) AS DOUBLE) / 5.0 AS recall
          |FROM ap LEFT JOIN btop b ON b.q_id = ap.q_id AND b.cand_id = ap.cand_id
          |GROUP BY ap.q_id, ap.method
          |ORDER BY ap.q_id, ap.method""".stripMargin),

      "s02_ann_lsh" ->
        ("WITH " + qCte + """,
          |bk AS (SELECT vec_id, qv, nrm,
          |    (SELECT CAST(SUM(CASE WHEN
          |       (SELECT SUM(n.qv[i] * (((1103515245 * (j * 64 + i) + 12345) % 197) - 98))
          |        FROM generate_series(1, 64) g(i)) > 0
          |       THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
          |     FROM generate_series(0, 3) h(j)) AS bucket
          |  FROM n),
          |qs AS (SELECT vec_id AS q_id, qv, nrm, bucket FROM bk WHERE vec_id % 20 = 0),
          |scored AS (SELECT a.q_id, a.bucket, b.vec_id AS cand_id,
          |    CAST((SELECT SUM(a.qv[i] * b.qv[i]) FROM generate_series(1, 64) g(i)) AS BIGINT)
          |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
          |  FROM qs a JOIN bk b ON a.bucket = b.bucket AND a.q_id <> b.vec_id)
          |SELECT q_id, bucket, rank, cand_id, cos FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank FROM scored) t
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)
    )
    // s22 serves s15's EXACT rows off the shipped index (AnnShipSpec
    // pins the equality; the oracle is therefore literally s15's SQL
    // — the frozen read path is thereby full-oracle-gated, not just
    // spec-pinned)
    m + ("s22_frozen_filtered" -> m("s15_filtered_ivfpq"))
  }
}
