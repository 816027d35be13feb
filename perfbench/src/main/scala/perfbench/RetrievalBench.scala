package perfbench

import graft.operators.Similarity
import graft.sources.Bm25IndexStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.Random

/** retrieval_serve: a BM25 chunk index frozen by
  * `Bm25IndexStore.freeze` and an IVFPQ index shipped by
  * `Similarity.shipIvfpqIndex` over clustered embeddings, then one
  * closed-loop client sending query batches — each one
  * `Bm25IndexStore.searchFrozen` call and one
  * `Similarity.searchFrozenIvfpq` call. */
object RetrievalBench {
  val TopK = 10
  /** `searchFrozenIvfpq` returns five neighbours per query. */
  val AnnK = 5
  /** Below what the index reaches on these clouds (0.34–0.41), far
    * above what a broken index returns (0). */
  val RecallBound = 0.25
  val Dim = 32
  /** One vector in `HoldOut` is held out of the index as a query. */
  val HoldOut = 16

  final case class Size(chunks: Int, vectors: Int, textQueries: Int, vecQueries: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(2000, 2000, 4, 4) else Size(6000, 6000, 8, 8)

  final case class Corpus(chunks: Seq[(Long, Int, Seq[String])], vectors: Array[Array[Float]],
                          labels: Array[Int], vocab: Array[String], heldOut: Array[Long])

  def generate(seed: Long, nChunks: Int, nVectors: Int): Corpus = {
    val rng = new Random(seed)
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 3000) s += (0 until 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      s.toArray
    }
    def word() = { val u = rng.nextDouble(); vocab((u * u * vocab.length).toInt) }
    val chunks = (0 until nChunks).map { ck =>
      val t = Seq.fill(20 + rng.nextInt(40))(word())
      (ck.toLong, t.size, t)
    }
    // 16 labelled topics, each a cloud of tight groups of 8: a
    // vector's true neighbours are its group mates
    def gauss(scale: Double) = Array.fill(Dim)(scale * rng.nextGaussian())
    val topics = Array.fill(16)(gauss(1.0))
    val groups = Array.tabulate(nVectors / 8 + 1)(g => (g % topics.length, gauss(0.6)))
    val labels = Array.tabulate(nVectors)(i => groups(i / 8)._1)
    val vectors = Array.tabulate(nVectors) { i =>
      val (t, off) = groups(i / 8)
      Array.tabulate(Dim)(j => (topics(t)(j) + off(j) + 0.12 * rng.nextGaussian()).toFloat)
    }
    val heldOut = rng.shuffle((0L until nVectors).toVector).take(nVectors / HoldOut).sorted.toArray
    Corpus(chunks, vectors, labels, vocab, heldOut)
  }

  def write(spark: SparkSession, dir: String, c: Corpus): Unit = {
    import spark.implicits._
    c.vectors.indices.map(i => (i.toLong, c.vectors(i).toSeq, c.labels(i)))
      .toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Okapi BM25 over the generated chunks, computed here with the
    * library's published constants (k1 = 1.2, b = 0.75, rational idf,
    * per-term scores floored in millionths). */
  final class Bm25(chunks: Seq[(Long, Int, Seq[String])]) {
    private val n = chunks.size
    private val dl = chunks.map { case (ck, _, t) => ck -> t.size }.toMap
    private val avgdl = chunks.map(_._3.size.toLong).sum.toDouble / n
    private val postings: Map[String, Seq[(Long, Int)]] =
      chunks.flatMap { case (ck, _, t) => t.groupBy(identity).map { case (w, ws) => (w, (ck, ws.size)) } }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2) }
    def score(terms: Seq[String]): Map[Long, Long] = {
      val s = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      terms.foreach { w =>
        postings.get(w).foreach { ps =>
          val df = ps.size
          val idf = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
          ps.foreach { case (ck, tf) =>
            val den = tf.toDouble + 1.2 * (0.25 + 0.75 * (dl(ck).toDouble / avgdl))
            s(ck) += math.floor(idf * ((tf.toDouble * 2.2) / den) * 1000000.0).toLong
          }
        }
      }
      s.toMap
    }
  }

  /** The program's ranking must list the right scores in rank order,
    * and hold exactly the chunks above the cut score plus chunks tied
    * at it. */
  def checkBm25(qid: Int, got: Seq[(Long, Long)], expect: Map[Long, Long]): Option[String] = {
    val ranked = expect.toSeq.sortBy { case (ck, s) => (-s, ck) }
    val k = math.min(TopK, ranked.size)
    if (got.size != k) return Some(s"query $qid: ${got.size} results, expected $k")
    val wrong = got.find { case (ck, s) => !expect.get(ck).contains(s) }
    if (wrong.nonEmpty) return Some(s"query $qid: chunk ${wrong.get._1} scored ${wrong.get._2}, expected ${expect.get(wrong.get._1)}")
    if (got.map(_._2) != got.map(_._2).sorted(Ordering[Long].reverse))
      return Some(s"query $qid: results out of score order")
    if (k == 0) return None
    val cut = ranked(k - 1)._2
    val above = ranked.takeWhile(_._2 > cut).map(_._1).toSet
    if (!above.subsetOf(got.map(_._1).toSet)) Some(s"query $qid: a chunk above the cut score is missing")
    else None
  }

  def exactKnn(c: Corpus, q: Int, k: Int): Seq[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qv = c.vectors(q); val qn = norm(qv)
    val held = c.heldOut.toSet
    c.vectors.indices.iterator.filter(i => !held(i.toLong)).map { i =>
      val v = c.vectors(i)
      var dot = 0.0; var j = 0
      while (j < Dim) { dot += qv(j).toDouble * v(j); j += 1 }
      (i.toLong, dot / (qn * norm(v)))
    }.toSeq.sortBy { case (i, cos) => (-cos, i) }.take(k).map(_._1)
  }

  final class Client(c: Corpus, rng: Random, sz: Size) {
    private val queryIds = c.heldOut
    private def word() = { val u = rng.nextDouble(); c.vocab((u * u * c.vocab.length).toInt) }
    def textBatch(): Seq[(Int, Seq[String])] =
      (0 until sz.textQueries).map(q => q -> Seq.fill(1 + rng.nextInt(3))(word()).distinct)
    def vecBatch(): Seq[Long] = Seq.fill(sz.vecQueries)(queryIds(rng.nextInt(queryIds.length))).distinct
  }

  final case class BatchOut(text: Seq[(Int, Seq[String])], textRows: Seq[(Int, Long, Long)],
                            vecs: Seq[Long], vecRows: Seq[(Long, Long)], textS: Double, vecS: Double)

  def batch(spark: SparkSession, ctx: Ctx, dir: String, name: String, cl: Client): BatchOut = {
    val text = cl.textBatch()
    val vecs = cl.vecBatch()
    val (textRows, textS) = Stats.timed(ctx.span("sources.Bm25IndexStore.searchFrozen")(
      Bm25IndexStore.searchFrozen(spark, s"${name}_bm25", text, TopK)
        .select("query_id", "ck", "score_micro").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq))
    val (vecRows, vecS) = Stats.timed(ctx.span("operators.Similarity.searchFrozenIvfpq")(
      Similarity.searchFrozenIvfpq(spark, dir, s"${name}_ivf", col("vec_id").isin(vecs: _*))
        .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))
    BatchOut(text, textRows, vecs, vecRows, textS, vecS)
  }

  def build(spark: SparkSession, ctx: Ctx, dir: String, name: String, c: Corpus): (Double, Double) = {
    import spark.implicits._
    val chunks = c.chunks.toDF("ck", "n_tok", "t")
    val (_, bm25S) = Stats.timed(ctx.span("sources.Bm25IndexStore.freeze")(
      Bm25IndexStore.freeze(chunks, s"${name}_bm25")))
    val (_, ivfS) = Stats.timed(ctx.span("operators.Similarity.shipIvfpqIndex")(
      Similarity.shipIvfpqIndex(spark, dir, s"${name}_ivf", corpusPred = !col("vec_id").isin(c.heldOut.toIndexedSeq: _*))))
    (bm25S, ivfS)
  }

  /** Checks every batch: each BM25 top-10 against the scores computed
    * here, and IVFPQ recall@5 against exact kNN. Returns the problems
    * and the recall. */
  def checkBatches(c: Corpus, outs: Seq[BatchOut]): (Seq[String], Double) = {
    val bm25 = new Bm25(c.chunks)
    val problems = mutable.ArrayBuffer.empty[String]
    val recalls = mutable.ArrayBuffer.empty[Double]
    outs.foreach { o =>
      o.text.foreach { case (qid, terms) =>
        val got = o.textRows.filter(_._1 == qid).map(r => (r._2, r._3))
        problems ++= checkBm25(qid, got, bm25.score(terms))
      }
      o.vecs.foreach { q =>
        val got = o.vecRows.filter(_._1 == q).map(_._2).toSet
        val exact = exactKnn(c, q.toInt, AnnK)
        recalls += exact.count(got).toDouble / exact.size
      }
    }
    val recall = recalls.sum / recalls.size
    if (recall < RecallBound) problems += f"IVFPQ recall@$AnnK $recall%.3f below the bound $RecallBound"
    (problems.toSeq.take(20), recall)
  }

  private def recordLayers(ctx: Ctx, bm25S: Double, ivfS: Double, outs: Seq[BatchOut],
                           recall: Double): Unit = {
    ctx.layer("sources.bm25.freeze_s", bm25S, "s")
    ctx.layer("operators.similarity.ivfpq_ship_s", ivfS, "s")
    ctx.layer("sources.bm25.search_s", Stats.median(outs.map(_.textS)), "s")
    ctx.layer("operators.similarity.ivfpq_search_s", Stats.median(outs.map(_.vecS)), "s")
    ctx.layer("operators.similarity.recall_at_5", recall, "ratio")
  }

  /** Batches the traced probe times after its warm-up batch. */
  val ProbeBatches = 3

  /** The retrieval layers, measured in the traced run of a listed
    * workload (maillog_follow): both indexes built cold on a corpus of
    * their own, one warm-up batch, then [[ProbeBatches]] timed ones.
    * Returns the checks' problems. */
  def layerProbe(ctx: Ctx): Seq[String] = {
    lazy val spark = ctx.spark
    val sz = size(ctx.a.smoke)
    val c = generate(ctx.a.seed + 19L, sz.chunks, sz.vectors)
    val dir = s"${ctx.runDir}/probe-vectors"
    write(spark, dir, c)
    val (bm25S, ivfS) = build(spark, ctx, dir, "probe", c)
    batch(spark, ctx, dir, "probe", new Client(c, new Random(ctx.a.seed + 23), sz))
    val client = new Client(c, new Random(ctx.a.seed + 29), sz)
    val outs = Seq.fill(ProbeBatches)(batch(spark, ctx, dir, "probe", client))
    val (problems, recall) = checkBatches(c, outs)
    recordLayers(ctx, bm25S, ivfS, outs, recall)
    problems.map(p => s"retrieval probe: $p")
  }

  val run: Ctx => Outcome = ctx => {
    lazy val spark = ctx.spark
    val sz = size(ctx.a.smoke)
    val c = generate(ctx.a.seed, sz.chunks, sz.vectors)
    val dir = s"${ctx.runDir}/vectors"
    write(spark, dir, c)
    ctx.note(s"inputs written: ${c.chunks.size} chunks, ${c.vectors.length} vectors")
    // set-up builds the indexes the client is served from, cold: the
    // build and three untimed batches are the warm-up (batch walls
    // were still falling through the third batch after a cold build)
    val (bm25S, ivfS) = build(spark, ctx, dir, "ret", c)
    ctx.note(f"built: bm25 $bm25S%.2f s, ivfpq $ivfS%.2f s")
    val warmClient = new Client(c, new Random(ctx.a.seed + 7), sz)
    (0 until 3).foreach(_ => batch(spark, ctx, dir, "ret", warmClient))
    ctx.note("warm-up done")
    ctx.startTimed()
    val deadline = ctx.deadlineNs(System.nanoTime())
    val client = new Client(c, new Random(ctx.a.seed + 11), sz)
    val outs = mutable.ArrayBuffer.empty[BatchOut]
    do outs += batch(spark, ctx, dir, "ret", client)
    while (System.nanoTime() < deadline)
    ctx.endTimed()
    ctx.note(s"${outs.size} batches")

    val (problems, recall) = checkBatches(c, outs.toSeq)
    val walls = outs.map(o => o.textS + o.vecS).toSeq
    val queries = outs.map(o => o.text.size + o.vecs.size).sum.toLong
    if (ctx.a.trace) recordLayers(ctx, bm25S, ivfS, outs.toSeq, recall)
    Outcome(problems, attempted = queries, failed = 0L,
      e2e = Seq(
        ("throughput_per_s", queries / walls.sum, "1/s"),
        ("latency_p50_s", Stats.median(walls), "s")),
      notes = Seq("batches" -> outs.size, "bm25_freeze_s" -> bm25S, "ivfpq_ship_s" -> ivfS, "recall_at_5" -> recall, "chunks" -> c.chunks.size,
        "vectors" -> c.vectors.length, "batch_walls_s" -> walls))
  }
}
