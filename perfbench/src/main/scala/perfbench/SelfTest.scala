package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

/** Shows that every checker accepts a correct output and rejects a
  * deliberately corrupted one:
  *  - maillog: one `logs` row dropped; one `messages` field changed;
  *  - curation: a survivor that is a planted exact duplicate; a pack
  *    offset shifted by one;
  *  - retrieval: a BM25 top-10 reordered.
  * Runs the program on small inputs in one session; exits 1 if any
  * case goes the wrong way. Also prints the per-layer metric names
  * (`LAYER name unit`) so run.py can compare them with
  * BENCHMARK.json.
  *
  *   perfbench.SelfTest --out DIR
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, problems: Seq[String], phrase: Option[String]): Unit = {
    val ok = phrase match {
      case None => problems.isEmpty
      case Some(p) => problems.exists(_.contains(p))
    }
    if (!ok) failures += 1
    val verdict = if (ok) "PASS" else "FAIL"
    val want = phrase.map(p => s"rejected with '$p'").getOrElse("accepted")
    println(s"$verdict  $name: expected $want; checker said ${if (problems.isEmpty) "nothing" else problems.mkString(" | ")}")
  }

  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv.toList).copy(workload = "selftest", smoke = true)
    val runDir = new File(s"${a.out}/run-selftest-${ProcessHandle.current.pid}").getAbsolutePath
    Files.createDirectories(Paths.get(runDir))
    val spark = Main.session(a, runDir)
    val ctx = new Ctx(spark, a, runDir, new Tracer(false), None)
    try {
      maillog(ctx)
      curation(ctx)
      retrieval(ctx)
    } finally {
      spark.stop()
      Dirs.deleteTree(new File(runDir))
    }
    Layers.All.foreach { case (n, u) => println(s"LAYER $n $u") }
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED: $failures case(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def maillog(ctx: Ctx): Unit = {
    import MaillogBench._
    val in = writeBackfill(s"${ctx.runDir}/ml-in", 7L, backfillSize(smoke = true))
    val (lines, truth) = (in.lines, in.truth)
    backfillRound(ctx, in, s"${ctx.runDir}/ml-out")
    val got = gotFrom(parquetRows(ctx.spark, s"${ctx.runDir}/ml-out/tables"))
    val (clean, failed) = check(lines, truth, got, _.padded)
    expect("maillog: daemon output", clean, None)
    expect("maillog: padded-day lines are the failed ones",
      if (failed == lines.count(_.padded)) Nil else Seq(s"failed $failed"), None)

    val victim = lines.find(l => !l.padded).get.logKey
    val dropped = got.copy(logs = got.logs.filterNot(_ == victim))
    expect("maillog: one logs row dropped", check(lines, truth, dropped, _.padded)._1,
      Some("lines whose rows are missing"))

    val (qid, m) = got.messages.find(_._2.from.isDefined).get
    val changed = got.copy(messages = got.messages.map {
      case (`qid`, _) => qid -> m.copy(from = Some("<changed@example.com>"))
      case other => other
    })
    expect("maillog: one message field changed", check(lines, truth, changed, _.padded)._1,
      Some("messages rows with a wrong field"))
  }

  private def curation(ctx: Ctx): Unit = {
    import CurationBench._
    val spark = ctx.spark
    val in = generate(5L, 400, 120, 2)
    val dir = s"${ctx.runDir}/cur"
    writeCorpus(spark, dir, in.corpus)
    graft.operators.Pipeline.p29Prepare(spark, dir, "st")
    val frozen = in.corpus.map(_.text).toSet
    val docs = in.nights.head
    val (survivors, _, _) = night(spark, ctx, "st", docs)
    val none = Set.empty[String]
    expect("curation: served night", checkNight(0, docs, survivors, frozen, none), None)

    val planted = docs.find(_.kind == ExactCorpus).get
    val last = survivors.filter(_.source == planted.source).sortBy(_.id).lastOption
    val next = last.map(s => s.binId * ContextLen + s.binOffset + s.nTokens).getOrElse(0L)
    // appended in pack order, so only the duplicate check can object
    val withDup = survivors :+ Survivor(planted.id + 1000000L, planted.source, 10L,
      next / ContextLen, next % ContextLen)
    val docsWithDup = docs :+ planted.copy(id = planted.id + 1000000L)
    expect("curation: a planted exact duplicate survives",
      checkNight(0, docsWithDup, withDup, frozen, none), Some("repeat a frozen"))

    val i = survivors.indices.maxBy(survivors(_).id)
    val shifted = survivors.updated(i, survivors(i).copy(binOffset = survivors(i).binOffset + 1))
    expect("curation: a pack offset shifted by one",
      checkNight(0, docs, shifted, frozen, none), Some("packed at"))
  }

  private def retrieval(ctx: Ctx): Unit = {
    import RetrievalBench._
    val spark = ctx.spark
    val c = generate(3L, 1500, 800)
    import spark.implicits._
    graft.sources.Bm25IndexStore.freeze(c.chunks.toDF("ck", "n_tok", "t"), "st_bm25")
    val bm25 = new Bm25(c.chunks)
    // common words, so that every query has a full top-10
    val queries = Seq(1 -> Seq(c.vocab(0), c.vocab(3)), 2 -> Seq(c.vocab(1)))
    val rows = graft.sources.Bm25IndexStore.searchFrozen(spark, "st_bm25", queries, TopK)
      .select("query_id", "ck", "score_micro").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val (qid, terms) = queries.head
    val got = rows.filter(_._1 == qid).map(r => (r._2, r._3))
    expect("retrieval: BM25 top-10", checkBm25(qid, got, bm25.score(terms)).toSeq, None)
    val j = got.indices.find(k => k + 1 < got.size && got(k)._2 != got(k + 1)._2).get
    val reordered = got.updated(j, got(j + 1)).updated(j + 1, got(j))
    expect("retrieval: BM25 top-10 reordered",
      checkBm25(qid, reordered, bm25.score(terms)).toSeq, Some("out of score order"))
  }
}
