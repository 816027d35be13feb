package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The frozen serving paths' latency ops cards (the [[DaemonLatency]]
  * siblings): arrival→answered wall time for a continuous serving
  * stream at a ProcessingTime trigger — the number a serving
  * deployment provisions against. Each card freezes its artifact once
  * (untimed by the waves, reported as `freeze_sec` — the amortized
  * build), starts its stream over a file-source arrival directory,
  * then lands waves (fresh ids per wave) and polls the per-batch
  * result dirs for each wave's answer. Latency = write-to-visible
  * wall time: file-source discovery, trigger wait, the frozen read
  * and the sink commit — the whole path a caller experiences. Wave 0
  * is recorded separately as the COLD number (stream boot + first
  * codegen).
  *
  * The cards:
  *  - `bm25` — [[graft.streaming.Bm25Stream.searchStream]]: pointer
  *    bind + term-pushed posting reads + two-phase top-k.
  *  - `hybrid` — [[graft.streaming.HybridStream.searchStream]]: BOTH
  *    frozen index reads (posting scans; IVFPQ route+ADC+rerank) plus
  *    the fusion — the widest plan in the library.
  *  - `classifier` —
  *    [[graft.streaming.QualityStream.frozenClassifierStream]]: the
  *    bucketed vocab join and the 64-row weight evaluation.
  *  - `tokenizer` —
  *    [[graft.streaming.QualityStream.frozenTokenizerStream]]: the
  *    merge-table read and the per-row literal-replace fold.
  *
  * Not part of the driver contract; a measurement main like
  * [[Stress]]. Prints ONE JSON line whose `metric` is
  * `<card>_latency`; `tools/ops_cards.py` runs the cards in turn.
  *
  * Usage: runMain graft.LatencyCard <card> [waves] [triggerSec]
  */
object LatencyCard {

  /** A started card: its serving query, how it lands wave `w` and the
    * predicate wave `w`'s answer rows satisfy in the sink. */
  private final case class Serving(query: StreamingQuery, land: Int => Unit,
                                   answer: Int => Column)

  /** A card: the frozen families it owns (dropped before the freeze
    * and after the run), its untimed-by-the-waves build, and the
    * stream start (given the arrival dir, the sink dir, the
    * checkpoint dir and the trigger). */
  private final case class Card(families: Seq[String], freeze: () => Unit,
                                start: (String, String, String, Trigger) => Serving)

  private def cards(spark: SparkSession, sfDir: String): Map[String, Card] = {
    import spark.implicits._
    def docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")

    /** One wave = an arrival batch of 64 corpus documents under fresh
      * ids (known vocabulary — the steady-state serving regime; the
      * drifted regime is staleness/refreeze territory, not a latency
      * card); the answer is the row of the batch's smallest id. */
    def docWaves(inDir: String,
                 serve: DataFrame => StreamingQuery): Serving = {
      val baseArr = docs.limit(64).cache()
      baseArr.count()
      val sq = serve(spark.readStream.schema(baseArr.schema).parquet(inDir))
      // loop-invariant, hoisted OUT of the timed window (round-15
      // review fix: a per-wave Spark job inside it inflated every
      // reported latency)
      val minId = baseArr.select(min(col("doc_id"))).collect()(0).getLong(0)
      def off(w: Int) = 1000000L * (w + 1)
      Serving(sq,
        w => baseArr.select((col("doc_id") + off(w)).as("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(inDir),
        w => col("doc_id") === off(w) + minId)
    }

    Map(
      "bm25" -> Card(Seq("lat_text"),
        () => graft.sources.Bm25IndexStore.freeze(
          graft.operators.Pipeline.chunkFrame(
            graft.sources.Tables.documents(spark, sfDir)), "lat_text"),
        (inDir, outDir, ckpt, trigger) => {
          val sq = streaming.Bm25Stream.searchStream(
            spark.readStream.schema("query_id INT, term STRING").parquet(inDir),
            "lat_text", outDir, ckpt, trigger = trigger)
          Serving(sq,
            w => Seq((1000 + w, "hash"), (1000 + w, "join"), (1000 + w, "window"))
              .toDF("query_id", "term")
              .coalesce(1).write.mode("append").parquet(inDir),
            w => col("query_id") === 1000 + w)
        }),
      "hybrid" -> Card(Seq("lat_hybrid_text", "lat_hybrid_ann"),
        () => {
          graft.sources.Bm25IndexStore.freeze(
            graft.operators.TextAnalysis.docChunkFrame(spark, sfDir),
            "lat_hybrid_text")
          graft.operators.Similarity.shipIvfpqIndex(spark, sfDir, "lat_hybrid_ann")
        },
        (inDir, outDir, ckpt, trigger) => {
          // one wave = the 6 hybrid queries under fresh ids (the t22
          // query shape: terms + the fixture's dense vector per query)
          val emb = graft.sources.Tables.embeddings(spark, sfDir)
            .select(col("vec_id"), col("label"), col("embedding"))
          val baseQ = graft.operators.TextAnalysis.Bm25Queries
            .map { case (qid, ts) => (qid, ts, qid.toLong *
              graft.operators.TextAnalysis.HybridQueryVecStride) }
            .toDF("query_id", "terms", "vec_id")
            .join(emb, "vec_id")
            .select("query_id", "terms", "vec_id", "label", "embedding")
            .cache()
          baseQ.count()
          val sq = streaming.HybridStream.searchStream(
            spark.readStream.schema(baseQ.schema).parquet(inDir),
            streaming.AnnStream.corpusFrame(spark, sfDir),
            "lat_hybrid_text", "lat_hybrid_ann", outDir, ckpt,
            trigger = trigger)
          // fresh ids per wave; vec_id (the dense self-exclusion id)
          // keeps the fixture rule so every wave's answers are identical
          def off(w: Int) = 1000 * (w + 1)
          Serving(sq,
            w => baseQ.select((col("query_id") + off(w)).as("query_id"),
                col("terms"), col("vec_id"), col("label"), col("embedding"))
              .coalesce(1).write.mode("append").parquet(inDir),
            w => col("query_id") === off(w) + 1)
        }),
      "classifier" -> Card(Seq("lat_classifier"),
        () => graft.sources.ClassifierStore.freeze(docs, "lat_classifier"),
        (inDir, outDir, ckpt, trigger) => docWaves(inDir, stream =>
          streaming.QualityStream.frozenClassifierStream(stream,
            "lat_classifier", outDir, ckpt, trigger = trigger))),
      "tokenizer" -> Card(Seq("lat_tokenizer"),
        () => graft.sources.TokenizerStore.freeze(docs, "lat_tokenizer"),
        (inDir, outDir, ckpt, trigger) => docWaves(inDir, stream =>
          streaming.QualityStream.frozenTokenizerStream(stream,
            "lat_tokenizer", outDir, ckpt, trigger = trigger))))
  }

  /** The `f`-quantile of `v` (nearest rank, upper). */
  private[graft] def quantile(v: Seq[Double], f: Double): Double = {
    val s = v.sorted
    s(math.min(s.size - 1, (f * s.size).toInt))
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: LatencyCard <bm25|hybrid|classifier|tokenizer> [waves] [triggerSec]"
    val name = args.headOption.getOrElse(throw new IllegalArgumentException(usage))
    val waves = args.lift(1).map(_.toInt).getOrElse(8)
    require(waves >= 1,
      "need at least one timed wave beyond the cold wave 0 — the " +
        "quantiles are over the steady-state waves only")
    val trigSec = args.lift(2).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cores = cpus, appName = s"graft-$name-latency")
    spark.sparkContext.setLogLevel("ERROR")
    val card = cards(spark, sfDir).getOrElse(name,
      throw new IllegalArgumentException(s"unknown card '$name'; $usage"))

    val runDir = s"/tmp/graft-$name-latency-${java.lang.System.nanoTime()}"
    val inDir = s"$runDir/in"
    val outDir = s"$runDir/out"
    Files.createDirectories(Paths.get(inDir))

    card.families.foreach(graft.sources.FreezeStore.dropAll(spark, _))
    val tF = java.lang.System.nanoTime()
    card.freeze()
    val freezeSec = (java.lang.System.nanoTime() - tF) / 1e9
    val serving = card.start(inDir, outDir, s"$runDir/ckpt",
      Trigger.ProcessingTime(s"$trigSec seconds"))

    def visible(w: Int): Boolean =
      try spark.read.parquet(s"$outDir/batch=*")
        .filter(serving.answer(w)).limit(1).count() > 0
      // non-fatal, not just AnalysisException (ADVICE r13): the
      // streaming sink overwrites per-batch dirs, so files can vanish
      // between this read's listing and its scan — that surfaces as
      // FileNotFoundException/SparkException and must read as "not
      // yet visible", not abort the whole measurement mid-run
      catch { case scala.util.control.NonFatal(_) => false }

    val lats = scala.collection.mutable.ArrayBuffer[Double]()
    var cold = -1.0
    for (w <- 0 to waves) {
      val t0 = java.lang.System.nanoTime()
      serving.land(w)
      val deadline = t0 + 180L * 1000000000L
      while (!visible(w) && java.lang.System.nanoTime() < deadline)
        Thread.sleep(50)
      require(visible(w), s"wave $w never answered")
      val sec = (java.lang.System.nanoTime() - t0) / 1e9
      if (w == 0) cold = sec else lats += sec
      System.err.println(f"[$name-latency] wave $w: $sec%.2fs" +
        (if (w == 0) " (cold)" else ""))
    }

    // "min" is the PHASE-ROBUST reading (round 18): each wave lands
    // its file at a random phase of the ProcessingTime trigger, so
    // every latency carries a uniform 0..trigger alignment term and
    // the MEDIAN of 8 waves bounces inside [proc, proc+trigger] —
    // the r17->r18 classifier "doubling" was two runs sampling
    // opposite ends of that band on IDENTICAL code (bisected to
    // prove it). min over the waves strips the alignment to
    // E[min of n uniforms] ~ trigger/(n+1); compare THAT
    // round-over-round, and the median only for end-to-end feel.
    println(f"""{"metric":"${name}_latency","trigger":"ProcessingTime(${trigSec}s)","unit":"sec","sf":"$sfDir","waves":$waves,"freeze_sec":$freezeSec%.2f,"cold":$cold%.2f,"min":${lats.min}%.3f,"median":${quantile(lats.toSeq, 0.5)}%.3f,"p90":${quantile(lats.toSeq, 0.9)}%.3f}""")

    System.out.flush()
    try serving.query.stop() catch { case _: Throwable => () }
    card.families.foreach(graft.sources.FreezeStore.dropAll(spark, _))
    try spark.stop() catch { case _: Throwable => () }
    Runtime.getRuntime.halt(0)
  }
}
