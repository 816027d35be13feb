package graft

import graft.operators.{Analytics, Analytics2, Multimodal, Pipeline, Quality}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression tests: the properties that make each
  * operator scale (shuffle count, pushdown, window partitioning) are
  * asserted on the physical plan, so a refactor that silently
  * degrades the plan — an extra exchange, a lost PushedFilter, an
  * unpartitioned window — fails a test, not a 100 TB run. */
class PlanShapeSpec extends SparkSpec {

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** The plan plus every cached subtree: `collect` alone stops at
    * InMemoryTableScan, which would hide any operator living under a
    * .persist()ed frame (e.g. d02's signatures, d08's assignment)
    * from the assertions below. */
  private def expanded(p: SparkPlan): Seq[SparkPlan] = {
    // a cached relation's plan is itself an AQE root — unwrap it or
    // everything under the cache stays invisible; once that AQE has
    // EXECUTED (a prior test materialized the cache) its whole
    // subtree further hides inside leaf QueryStageExec wrappers,
    // which `collect` cannot see through
    val self = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      case x => x
    }
    val nested = self.collect {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
    }
    val cached = self.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    }
    self +: (nested ++ cached).flatMap(expanded)
  }

  private def shuffles(df: DataFrame): Int =
    expanded(physical(df)).flatMap(_.collect { case e: ShuffleExchangeExec => e }).size

  private def windows(df: DataFrame): Seq[WindowExec] =
    expanded(physical(df)).flatMap(_.collect { case w: WindowExec => w })

  test("q04/q01: filters reach the parquet scan (PushedFilters)") {
    for (df <- Seq(Analytics.q04FilterPushdown(spark, sf),
                   Analytics.q01PricingSummary(spark, sf))) {
      val scans = physical(df).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      assert(scans.exists(_.metadata("PushedFilters") != "[]"),
        "data filters must be pushed to the scan")
    }
  }

  test("q24: one data shuffle + one two-frame window, partitioned") {
    val df = Analytics2.q24RangeWindow(spark, sf)
    // user_id hash partitioning + the final presentation sort
    assert(shuffles(df) == 2, "q24 must shuffle exactly twice")
    val ws = windows(df)
    assert(ws.size == 1, "both RANGE aggregates must share one Window")
    assert(ws.forall(_.partitionSpec.nonEmpty), "window must be partitioned")
  }

  test("t31 serving fold: map-only — zero shuffles, pruned scan") {
    // the Explain-audited shape pinned as a regression test (round
    // 16): the frozen-tokenizer serve is ONE codegen span — a
    // two-column pruned scan + the merge fold inlined in a Project;
    // at 100 TB its cost is exactly the scan
    val name = "ps_tok31"
    graft.sources.FreezeStore.dropAll(spark, name)
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
        .select("doc_id", "text")
      graft.sources.TokenizerStore.freeze(docs, name)
      val served = graft.sources.TokenizerStore.tokenCountsFrozen(spark,
        graft.sources.Tables.documents(spark, sf), name)
      assert(shuffles(served) == 0, "the serving fold must be map-only")
      val scans = physical(served).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty && scans.forall(
        _.requiredSchema.fieldNames.toSet == Set("doc_id", "text")),
        "column pruning must reach the scan")
    } finally graft.sources.FreezeStore.dropAll(spark, name)
  }

  test("p06/t12/mm03: narrow plans — no shuffle before the final sort") {
    for ((name, df) <- Seq(
        "p06" -> Pipeline.p06MixtureResample(spark, sf),
        "t12" -> Quality.t12CharProfile(spark, sf),
        "mm03" -> Multimodal.mm03FrameIndex(spark, sf))) {
      assert(shuffles(df) == 1, s"$name: only the presentation sort may shuffle")
      assert(windows(df).isEmpty, s"$name must not use windows")
    }
  }

  test("p07: the shuffle-order rank window is partitioned (64-way)") {
    val df = Pipeline.p07ShuffleOrder(spark, sf)
    val ws = windows(df)
    assert(ws.size == 1)
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "a global-rank window would serialize the corpus")
  }

  test("q32: one user_id shuffle feeds both stacked windows") {
    val df = graft.operators.Analytics3.q32Scd2(spark, sf)
    // user_id hash partitioning + the final presentation sort; the
    // lag-filter-lead stack re-sorts but must never re-shuffle
    assert(shuffles(df) == 2, "q32 must shuffle exactly twice")
    assert(windows(df).forall(_.partitionSpec.nonEmpty))
  }

  test("q33: the full-outer diff joins via one logical shuffle pair") {
    val df = graft.operators.Analytics3.q33SnapshotDiff(spark, sf)
    // two join-input exchanges + the presentation sort; a plan that
    // pre-aggregated or windowed would add more
    assert(shuffles(df) <= 3, "q33 grew an unexpected exchange")
    assert(windows(df).isEmpty)
    val smj = expanded(physical(df)).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    })
    assert(smj.exists(_.joinType.sql == "FULL OUTER"),
      "the diff must be a single full-outer join")
  }

  test("d13/mm04: hash-groupBy dedups — no windows, bounded shuffles") {
    // d13: agg exchange + presentation sort. mm04 adds one more:
    // countDistinct(doc_id) plans the standard two-phase distinct
    // (re-key by (frame_md5, doc_id), then by frame_md5).
    for ((name, df, n) <- Seq(
        ("d13", graft.operators.Dedup.d13NormDedup(spark, sf), 2),
        ("mm04", graft.operators.Multimodal.mm04FrameDedup(spark, sf), 3))) {
      assert(shuffles(df) == n, s"$name: expected $n exchanges")
      assert(windows(df).isEmpty, s"$name must not use windows")
    }
  }

  test("p10 consumes the sortless packing core (no inherited range sort)") {
    val df = Pipeline.p10PackBoundaries(spark, sf)
    // the two-phase prefix sum costs exactly 4 exchanges: the
    // (source,bucket) window, the per-bucket totals groupBy, the
    // offsets window over that tiny aggregate, and the final
    // presentation sort; inheriting p02's orderBy would add a FIFTH
    // (range) exchange under the explode, which EliminateSorts
    // cannot remove
    assert(shuffles(df) == 4, "p10 re-inherited p02's presentation sort")
  }

  test("t15: two-phase rank — bucketed data window + aggregate-side offsets") {
    val ws = windows(Quality.t15LmBuckets(spark, sf))
    // the corpus-side rank window must partition by (lang, bucket) —
    // a lang-only partitioning would sort ~the whole corpus of a
    // mostly-English dataset in one task
    assert(ws.exists(_.partitionSpec.size == 2),
      "t15 must rank within (lang, score-bucket)")
    assert(ws.forall(_.partitionSpec.nonEmpty))
    assert(ws.size == 2, "one data window + one offsets window over the bucket aggregate")
  }

  test("p12/d16: window-free — per-row acceptance / pure join-aggregate") {
    for (df <- Seq(Pipeline.p12TemperatureMix(spark, sf),
                   graft.operators.Dedup.d16SourceOverlap(spark, sf)))
      assert(windows(df).isEmpty, "no window belongs in this plan")
  }

  test("p13: inherits exactly packCore's two prefix-sum window shapes") {
    val ws = windows(Pipeline.p13RankBalance(spark, sf))
    // distinct shapes, not raw count: the cached per-rank frame's
    // plan is expanded once per scan, so identical windows can
    // legitimately appear more than once in the expansion
    val shapes = ws.map(_.partitionSpec.map(_.sql).mkString(",")).toSet
    assert(shapes.size == 2, s"rank assignment must not add window shapes: $shapes")
    assert(ws.forall(_.partitionSpec.nonEmpty))
  }

  test("qa03: global top-k via TakeOrdered, never a global rank window") {
    val df = graft.operators.Analytics3.qa03SampleTopkEval(spark, sf)
    assert(windows(df).isEmpty, "sort+limit must not plan a window")
    val takes = expanded(physical(df)).flatMap(_.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    })
    assert(takes.nonEmpty, "top-10 must plan as TakeOrderedAndProject")
  }

  test("q52/q59: global top-k via TakeOrdered, never a global sort or window") {
    // the Q10/Q3 shapes rank the WHOLE aggregate by a computed
    // measure — the scale-safe plan is per-partition top-k + a
    // driver merge (TakeOrderedAndProject), not a range-partitioned
    // global sort feeding a limit
    for (name <- Seq("q52_returned_revenue", "q59_unshipped_backlog")) {
      val df = SparkEntry.queries(name)(spark, sf)
      assert(windows(df).isEmpty, s"$name: sort+limit must not plan a window")
      val takes = expanded(physical(df)).flatMap(_.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      })
      assert(takes.nonEmpty, s"$name: top-k must plan as TakeOrderedAndProject")
    }
  }

  test("mm06/mm07/mm08: one doc_id hash shuffle feeds every scene/segment window") {
    // the un-sorted mm03 core claim: compositions see exactly one
    // data shuffle (hash on doc_id — the group/window keys all
    // contain doc_id, so the subset rule re-uses it) plus the final
    // presentation sort; a reintroduced orderBy in the core would
    // add a rangepartitioning exchange and fail this
    for (df <- Seq(Multimodal.mm06SceneIndex(spark, sf),
                   Multimodal.mm07SceneSample(spark, sf),
                   Multimodal.mm08SilenceSegments(spark, sf))) {
      val ws = windows(df)
      assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty))
      assert(shuffles(df) <= 2, s"scene plan grew extra exchanges: ${shuffles(df)}")
    }
  }

  test("q56: bracket prefixes reach BOTH parquet scans (VERDICT r11 #1)") {
    // the CASE bracket itself is not pushable (cross-table
    // disjunction), so pruning lives or dies on the explicit
    // prefix-union pre-filters: the lineitem scan must push the
    // quantity band, the part scan the brand set + size band — a
    // refactor back to the bare-join shape scans both tables in full
    val df = graft.operators.Analytics4.q56BracketRevenue(spark, sf)
    val scans = expanded(physical(df)).flatMap(_.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    })
    def scanWith(col: String) = scans.filter(_.schema.fieldNames.contains(col))
    val li = scanWith("l_quantity")
    val pt = scanWith("p_brand")
    assert(li.nonEmpty && pt.nonEmpty, "expected a lineitem and a part scan")
    assert(li.exists { s =>
      val f = s.metadata("PushedFilters")
      f.contains("l_quantity") && f.contains("35")
    }, s"lineitem scan must push the quantity band: ${li.map(_.metadata("PushedFilters"))}")
    assert(pt.exists { s =>
      val f = s.metadata("PushedFilters")
      f.contains("p_brand") && f.contains("Brand#") && f.contains("p_size")
    }, s"part scan must push brand + size: ${pt.map(_.metadata("PushedFilters"))}")
  }

  test("q61: the derived shipdate bound reaches the fact scan and the join is semi") {
    // the EXISTS inequality itself is not pushable (cross-table);
    // pruning lives on the hand-derived l_shipdate > window_lo + 60d
    // prefix — a refactor back to the bare decorrelated join would
    // scan lineitem in full
    val df = graft.operators.Analytics4.q61LateOrders(spark, sf)
    val plan = physical(df)
    val scans = expanded(plan).flatMap(_.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    })
    val li = scans.filter(_.schema.fieldNames.contains("l_shipdate"))
    val o = scans.filter(_.schema.fieldNames.contains("o_orderdate"))
    assert(li.nonEmpty && o.nonEmpty, "expected a lineitem and an orders scan")
    assert(li.exists(_.metadata("PushedFilters").contains("l_shipdate")),
      s"fact scan must push the derived shipdate bound: " +
        li.map(_.metadata("PushedFilters")))
    assert(o.exists { s =>
      val f = s.metadata("PushedFilters")
      f.contains("o_orderdate") && f.contains("1995-03-01")
    }, s"orders scan must push the quarter: ${o.map(_.metadata("PushedFilters"))}")
    assert(expanded(plan).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.sql == "LEFT SEMI" => j
    }).nonEmpty, "the EXISTS must plan as one semi join, not a per-order probe")
  }

  test("maillog projections: one shuffle for clients and messages, none for deliveries") {
    // the three row projections the batch operators and the daemon
    // share. The regex counts pin the optimized plans, header parse
    // included (the optimizer pushes each not-null filter below the
    // projection, so a regex can appear in the Filter as well as in
    // the Project): an edit to a shared projection must not make a
    // regex run one more time
    val f = java.nio.file.Files.createTempFile("maillog-shape", ".log")
    java.nio.file.Files.write(f, Seq(
      "Mar 05 10:00:01 mx1 postfix/smtpd[201]: 4A1B2C: client=mail.alpha.example[192.0.2.10]",
      "Mar 05 10:00:02 mx1 postfix/cleanup[202]: 4A1B2C: message-id=<m1@alpha.example>",
      "Mar 05 10:00:03 mx1 postfix/qmgr[203]: 4A1B2C: from=<alice@alpha.example>, size=1200, nrcpt=2 (queue active)",
      "Mar 05 10:00:04 mx1 postfix/smtp[204]: 4A1B2C: to=<bob@beta.example>, relay=mx.beta.example[198.51.100.5]:25, delay=1.2, delays=0.1/0.2/0.3/0.6, dsn=2.0.0, status=sent (250 ok)"
    ).mkString("\n").getBytes)
    val parsed = graft.sources.Maillog.parsed(
      graft.sources.Maillog.readLines(spark, f.toString), 2024)
    def regexps(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect {
          case r: graft.plans.RegexpExtractGroups => r }.size).sum
      }.sum
    for ((name, df, nShuffles, nRegexps) <- Seq(
        ("clientsFrom", graft.operators.MaillogOps.clientsFrom(parsed), 1, 8),
        ("messagesFrom", graft.operators.MaillogOps.messagesFrom(parsed), 1, 15),
        ("deliveryRows", graft.streaming.MaillogDaemon.deliveryRows(parsed), 0, 7))) {
      assert(shuffles(df) == nShuffles, s"$name must shuffle $nShuffles time(s)")
      assert(regexps(df) == nRegexps,
        s"$name must plan $nRegexps regexp_extract_groups, not ${regexps(df)}")
    }
  }

  test("no query plans an unpartitioned window over table data") {
    // the round-1 scale-killers (m06 global rank, vocab row_number)
    // must stay dead: sweep every registered batch query
    for ((name, fn) <- SparkEntry.queries) {
      val bad = windows(fn(spark, sf)).filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty, s"$name plans an unpartitioned window")
    }
  }
}
