package perfbench

import graft.operators.{Dedup, Pipeline}
import graft.sources.{ClassifierStore, TokenizerStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.Random

/** curation_nightly: freeze a generated corpus once with
  * `Pipeline.p29Prepare`, then serve several nights — each one
  * `p29ServeBatch` on an arrival batch followed by `p29Absorb` of its
  * survivors. Later nights replay earlier arrivals and near-copies of
  * them, so the absorbed screens are exercised. */
object CurationBench {
  val ContextLen = 256L
  /** Share of planted near-copies (of a corpus text or of an absorbed
    * survivor) that must not survive. */
  val NearRecallBound = 0.9

  final case class Size(corpus: Int, arrivals: Int, nights: Int, warmCorpus: Int, warmArrivals: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(600, 150, 2, 50, 50) else Size(6000, 1000, 3, 50, 100)

  sealed trait Kind
  case object Fresh extends Kind
  case object ExactCorpus extends Kind
  case object NearCorpus extends Kind
  case object ExactEarlier extends Kind
  case object NearEarlier extends Kind

  final case class Doc(id: Long, source: String, text: String, kind: Kind = Fresh, origin: String = "")

  /** Word-sequence texts over a skewed vocabulary. */
  final class TextGen(rng: Random) {
    private val vocab: Array[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 4000)
        s += (0 until 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      s.toArray
    }
    private val stop = Array("the", "a", "of", "and", "to", "in", "is")
    def word(): String = { val u = rng.nextDouble(); vocab((u * u * vocab.length).toInt) }
    /** 40–89 words; a per-text share of stop words between 0 and 20 %
      * spreads the texts over both sides of the quality gate. */
    def text(): String = {
      val stopShare = rng.nextDouble() * 0.2
      Seq.fill(40 + rng.nextInt(50))(
        if (rng.nextDouble() < stopShare) stop(rng.nextInt(stop.length)) else word()).mkString(" ")
    }
    /** The same text with one word replaced. */
    def nearCopy(t: String): String = {
      val ws = t.split(' ')
      var out = t
      while (out == t) {
        val i = rng.nextInt(ws.length)
        out = ws.updated(i, word()).mkString(" ")
      }
      out
    }
  }

  final case class Inputs(corpus: Seq[Doc], nights: Seq[Seq[Doc]])

  /** Corpus ids keep `doc_id % 10 < 8` (the slice the freeze reads);
    * arrivals get fresh ids above the corpus. Nights mix fresh docs,
    * exact and near copies of corpus docs, and from the second night
    * on exact replays and near-copies of earlier arrivals. */
  def generate(seed: Long, corpusN: Int, arrivalsN: Int, nights: Int): Inputs = {
    val rng = new Random(seed)
    val g = new TextGen(rng)
    def src() = s"src${rng.nextInt(4)}"
    val corpus = mutable.ArrayBuffer.empty[Doc]
    (0 until corpusN).foreach { i =>
      val id = (i / 8) * 10L + i % 8
      val text = rng.nextInt(20) match {
        case 0 if corpus.nonEmpty => corpus(rng.nextInt(corpus.size)).text
        case 1 if corpus.nonEmpty => g.nearCopy(corpus(rng.nextInt(corpus.size)).text)
        case _ => g.text()
      }
      corpus += Doc(id, src(), text)
    }
    var nextId = (corpusN / 8 + 1) * 10L
    val earlier = mutable.ArrayBuffer.empty[Doc]
    val ns = (0 until nights).map { n =>
      val docs = (0 until arrivalsN).map { _ =>
        val id = nextId; nextId += 1
        val r = rng.nextInt(10)
        if (r == 0) { val o = corpus(rng.nextInt(corpus.size)).text; Doc(id, src(), o, ExactCorpus, o) }
        else if (r == 1) { val o = corpus(rng.nextInt(corpus.size)).text; Doc(id, src(), g.nearCopy(o), NearCorpus, o) }
        else if (r == 2 && earlier.nonEmpty) { val o = earlier(rng.nextInt(earlier.size)).text; Doc(id, src(), o, ExactEarlier, o) }
        else if (r == 3 && earlier.nonEmpty) { val o = earlier(rng.nextInt(earlier.size)).text; Doc(id, src(), g.nearCopy(o), NearEarlier, o) }
        else Doc(id, src(), g.text())
      }
      earlier ++= docs.filter(_.kind == Fresh)
      docs
    }
    Inputs(corpus.toSeq, ns)
  }

  def writeCorpus(spark: SparkSession, dir: String, corpus: Seq[Doc]): Unit = {
    import spark.implicits._
    corpus.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def arrivalFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.source, d.text)).toDF("doc_id", "source", "text")
  }

  /** One served row: the pack coordinates of a survivor. */
  final case class Survivor(id: Long, source: String, nTokens: Long, binId: Long, binOffset: Long)

  /** One night: serve the batch, absorb its survivors. */
  def night(spark: SparkSession, ctx: Ctx, ns: String, docs: Seq[Doc]): (Seq[Survivor], Double, Double) = {
    import spark.implicits._
    val batch = arrivalFrame(spark, docs)
    val byId = docs.map(d => d.id -> d.text).toMap
    val (served, serveS) = Stats.timed(ctx.span("operators.pipeline.p29ServeBatch")(
      Pipeline.p29ServeBatch(spark, batch, ContextLen, ns)
        .select("doc_id", "source", "n_tokens", "bin_id", "bin_offset").collect().toSeq))
    val survivors = served.map(r => Survivor(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val admit = survivors.flatMap(s => byId.get(s.id).map(t => (s.id, t))).toDF("doc_id", "text")
    val (_, absorbS) = Stats.timed(ctx.span("operators.pipeline.p29Absorb")(Pipeline.p29Absorb(spark, admit, ns)))
    (survivors, serveS, absorbS)
  }

  /** The properties every night's output must have. */
  def checkNight(n: Int, docs: Seq[Doc], survivors: Seq[Survivor], frozen: collection.Set[String],
                 admitted: collection.Set[String]): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val byId = docs.map(d => d.id -> d).toMap
    val notArrived = survivors.filterNot(s => byId.contains(s.id))
    if (notArrived.nonEmpty) p += s"night $n: ${notArrived.size} survivors are not arrivals (e.g. ${notArrived.head})"
    if (survivors.map(_.id).distinct.size != survivors.size) p += s"night $n: a survivor is listed twice"
    val dup = survivors.flatMap(s => byId.get(s.id)).filter(d => frozen(d.text) || admitted(d.text))
    if (dup.nonEmpty) p += s"night $n: ${dup.size} survivors repeat a frozen or earlier survivor's text (e.g. doc ${dup.head.id})"
    survivors.groupBy(_.source).foreach { case (src, ss) =>
      var sum = 0L
      ss.sortBy(_.id).foreach { s =>
        if (s.binId * ContextLen + s.binOffset != sum)
          p += s"night $n: source $src doc ${s.id} packed at ${s.binId}·$ContextLen+${s.binOffset}, expected offset $sum"
        sum += s.nTokens
      }
    }
    p.toSeq.take(5)
  }

  val run: Ctx => Outcome = ctx => {
    lazy val spark = ctx.spark
    val sz = size(ctx.a.smoke)
    val in = generate(ctx.a.seed, sz.corpus, sz.arrivals, sz.nights)
    val warm = generate(ctx.a.seed + 1000003L, sz.warmCorpus, sz.warmArrivals, 1).nights.head
      .zipWithIndex.map { case (d, i) => d.copy(id = 1000000000L + i) } // ids no night uses
    val dir = s"${ctx.runDir}/corpus"
    writeCorpus(spark, dir, in.corpus)
    ctx.note(s"inputs written: corpus ${in.corpus.size}, ${sz.nights} nights of ${sz.arrivals}")
    // set-up freezes the stores the nights are served from, cold; the
    // freeze and one untimed night of fresh arrivals are the warm-up
    val (_, freezeS) = Stats.timed(ctx.span("operators.pipeline.p29Prepare")(Pipeline.p29Prepare(spark, dir, "cur")))
    ctx.note(f"froze in $freezeS%.2f s")
    val (warmSurvivors, _, _) = night(spark, ctx, "cur", warm)
    val admitted = mutable.HashSet.empty[String]
    admitted ++= warmSurvivors.flatMap(w => warm.find(_.id == w.id)).map(_.text)
    ctx.note("warm-up done")
    val frozen = in.corpus.map(_.text).toSet
    val problems = mutable.ArrayBuffer.empty[String]
    val nightWalls = mutable.ArrayBuffer.empty[Double]
    var nearPlanted = 0L
    var nearDropped = 0L
    ctx.startTimed()
    in.nights.zipWithIndex.foreach { case (ds, n) =>
      val (surv, serveS, absorbS) = night(spark, ctx, "cur", ds)
      nightWalls += serveS + absorbS
      problems ++= checkNight(n, ds, surv, frozen, admitted)
      val survived = surv.map(_.id).toSet
      val near = ds.filter(d => d.kind == NearCorpus || (d.kind == NearEarlier && admitted(d.origin)))
      nearPlanted += near.size
      nearDropped += near.count(d => !survived(d.id))
      val byId = ds.map(d => d.id -> d.text).toMap
      admitted ++= surv.flatMap(s => byId.get(s.id))
      ctx.note(f"night $n: ${surv.size} survivors, serve $serveS%.2f s, absorb $absorbS%.2f s")
    }
    ctx.endTimed()
    val docs = in.nights.map(_.size).sum.toLong

    val recall = nearDropped.toDouble / math.max(1L, nearPlanted)
    if (recall < NearRecallBound)
      problems += f"near-copies dropped at $recall%.3f, below the bound $NearRecallBound"
    if (ctx.a.trace) pieces(ctx, dir, in)
    Outcome(problems.toSeq, attempted = docs, failed = 0L,
      e2e = Seq(
        ("throughput_per_s", docs / nightWalls.sum, "1/s"),
        ("latency_p50_s", Stats.median(nightWalls.toSeq), "s")),
      notes = Seq("corpus_docs" -> in.corpus.size, "nights" -> sz.nights,
        "arrivals_per_night" -> sz.arrivals, "near_recall" -> recall,
        "near_planted" -> nearPlanted, "night_walls_s" -> nightWalls.toSeq, "freeze_s" -> freezeS))
  }

  /** The curation layers, timed on a small corpus of their own; run
    * from the maillog_backfill traced run, so that every curation
    * layer is measured by a workload the benchmark lists. */
  def layerProbe(ctx: Ctx): Unit = {
    val in = generate(ctx.a.seed + 17L, 1500, 300, 1)
    val dir = s"${ctx.runDir}/probe-corpus"
    writeCorpus(ctx.spark, dir, in.corpus)
    pieces(ctx, dir, in)
  }

  /** Traced run only: the pieces of p29Prepare called one by one on a
    * namespace of their own, then the serve and absorb pieces on the
    * first night's arrivals, with the counts beside them. */
  private def pieces(ctx: Ctx, dir: String, in: Inputs): Unit = {
    lazy val spark = ctx.spark
    val ns = "layers"
    def t(name: String, metric: String)(body: => Any): Unit =
      ctx.layer(metric, Stats.timed(ctx.span(name)(body))._2, "s")
    val corpus = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 < 8).select("doc_id", "text")
    t("sources.ClassifierStore.freeze", "sources.classifier.freeze_s")(ClassifierStore.freeze(corpus, s"${ns}_cls"))
    t("operators.Dedup.shipBloomIndex", "operators.dedup.bloom_ship_s")(Dedup.shipBloomIndex(spark, dir, s"${ns}_bloom"))
    t("operators.Dedup.shipNearDupIndex", "operators.dedup.near_ship_s")(Dedup.shipNearDupIndex(spark, dir, s"${ns}_near"))
    t("sources.TokenizerStore.freeze", "sources.tokenizer.freeze_s")(TokenizerStore.freeze(corpus, s"${ns}_tok"))

    val docs = in.nights.head
    val arrivals = arrivalFrame(spark, docs).select("doc_id", "text")
    var kept = 0L
    t("sources.ClassifierStore.scoreFrozen", "sources.classifier.score_s") {
      kept = ClassifierStore.scoreFrozen(spark, arrivals, s"${ns}_cls").filter(col("keep")).count() }
    var exact = Seq.empty[Long]
    t("operators.Dedup.bloomScreenFrozen", "operators.dedup.bloom_screen_s") {
      exact = Dedup.bloomScreenFrozen(spark, arrivals, s"${ns}_bloom")
        .filter(col("outcome") === "dup").select("doc_id").collect().map(_.getLong(0)).toSeq }
    var near = 0L
    t("operators.Dedup.nearMatchesFrozen", "operators.dedup.near_match_s") {
      near = Dedup.nearMatchesFrozen(spark, arrivals, s"${ns}_near").select("doc_id").distinct().collect().length.toLong }
    var survivors = Seq.empty[Long]
    t("operators.pipeline.p29ServeBatch", "operators.pipeline.serve_s") {
      survivors = Pipeline.p29ServeBatch(spark, arrivalFrame(spark, docs), ContextLen, ns)
        .select("doc_id").collect().map(_.getLong(0)).toSeq }
    val admit = arrivals.join(spark.createDataFrame(survivors.map(Tuple1(_))).toDF("doc_id"), "doc_id")
    t("operators.Dedup.absorbBloomArrivals", "operators.dedup.bloom_absorb_s")(Dedup.absorbBloomArrivals(spark, admit, s"${ns}_bloom"))
    t("operators.Dedup.absorbNearDupArrivals", "operators.dedup.near_absorb_s")(Dedup.absorbNearDupArrivals(spark, admit, s"${ns}_near"))

    val frozen = in.corpus.map(_.text).toSet
    val text = docs.map(d => d.id -> d.text).toMap
    ctx.layer("curation.gate_kept", kept.toDouble, "count")
    ctx.layer("curation.exact_dropped", exact.size.toDouble, "count")
    ctx.layer("curation.near_dropped", near.toDouble, "count")
    ctx.layer("curation.survivors", survivors.size.toDouble, "count")
    ctx.layer("operators.dedup.bloom_false_drop_ratio",
      exact.count(id => !frozen(text(id))).toDouble / math.max(1, exact.size), "ratio")
  }
}
