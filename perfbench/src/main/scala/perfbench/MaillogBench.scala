package perfbench

import MaillogGen._
import graft.streaming.{FileTailer, JdbcUpsertSink, MaillogDaemon}
import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager, SQLException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.util.Random

/** The two maillog workloads: a rotated-directory backfill through
  * the daemon's AvailableNow run into the parquet tables, and the
  * reference's deployment shape — one growing file followed through
  * `FileTailer` into an embedded Derby database. */
object MaillogBench {
  val Tables = Seq("logs", "clients", "messages", "deliveries")

  /** Output of one daemon run, in comparable form. */
  final case class Got(logs: Seq[LogKey], clients: Seq[(ClientKey, Long, Long)],
                       messages: Seq[(String, Message)], deliveries: Seq[Delivery])

  /** Compares the daemon's tables with the generator's truth. Returns
    * the problems and the number of failed lines — lines with a row
    * missing from the output. A missing row is a problem unless
    * `mayFail` holds for the line; extra or wrong rows always are. */
  def check(lines: Seq[Line], truth: Truth, got: Got, mayFail: Line => Boolean): (Seq[String], Long) = {
    val problems = mutable.ArrayBuffer.empty[String]
    def bad(what: String, xs: Iterable[Any]): Unit =
      if (xs.nonEmpty) problems += s"$what: ${xs.size} (e.g. ${xs.head})"

    val gotLogs = got.logs.toSet
    bad("duplicate logs rows", got.logs.groupBy(identity).filter(_._2.size > 1).keys)
    bad("logs rows not in the input", gotLogs -- truth.logs)
    val missingLogs = truth.logs.filterNot(gotLogs)

    val gotClients = got.clients.groupBy(_._1)
    bad("duplicate clients keys", gotClients.filter(_._2.size > 1).keys)
    bad("clients rows not in the input", gotClients.keySet -- truth.clients.keySet)
    bad("clients rows with wrong lastseen/n_seen", got.clients.filter { case (k, seen, n) =>
      truth.clients.get(k).exists(_ != ((seen, n))) })
    val missingClients = truth.clients.keySet.filterNot(gotClients.contains)

    val gotMsgs = got.messages.groupBy(_._1)
    bad("duplicate messages queue ids", gotMsgs.filter(_._2.size > 1).keys)
    bad("messages rows not in the input", gotMsgs.keySet -- truth.messages.keySet)
    bad("messages rows with a wrong field", got.messages.filter { case (q, m) =>
      truth.messages.get(q).exists(_ != m) })
    val missingMsgs = truth.messages.keySet.filterNot(gotMsgs.contains)

    // distinct on the full tuple: the parquet sink has no unique key,
    // so its copies of a duplicated delivery line are counted apart
    // (`deliveries_duplicate_rows`) rather than failed here
    val gotDel = got.deliveries.toSet
    bad("deliveries rows not in the input", gotDel -- truth.deliveries)
    val missingDel = truth.deliveries.filterNot(gotDel)

    var failed = 0L
    val unexpected = mutable.ArrayBuffer.empty[Line]
    lines.foreach { l =>
      val missing = missingLogs.contains(l.logKey) || (l.effect match {
        case c: Client => missingClients.contains((c.client, c.rdns, c.addr)) || missingMsgs.contains(c.qid)
        case c: Cleanup => missingMsgs.contains(c.qid)
        case q: Qmgr => missingMsgs.contains(q.qid)
        case s: Smtp => missingDel.contains(s.d)
        case Unmatched => false
      })
      if (missing) {
        failed += 1
        if (!mayFail(l)) unexpected += l
      }
    }
    bad("lines whose rows are missing", unexpected.map(_.render))
    (problems.toSeq, failed)
  }

  // ---------------------------------------------------------------
  // reading the tables back
  // ---------------------------------------------------------------

  private def optL(v: Any): Option[Long] = v match {
    case null => None
    case n: java.lang.Number => Some(n.longValue)
    case t: java.sql.Timestamp => Some(t.getTime)
    case other => throw new IllegalStateException(s"not a number: $other")
  }
  private def optS(v: Any): Option[String] = Option(v).map(_.toString)

  /** The four tables from row accessors (`get(column)` of one row). */
  def gotFrom(rows: String => Seq[String => Any]): Got = Got(
    rows("logs").map(r => (optL(r("log_timestamp")).get, r("log_mailhost").toString,
      r("log_process").toString, r("log_processid").toString, r("log_message").toString)),
    rows("clients").map(r => ((r("client").toString, r("client_rdns").toString,
      r("client_addr").toString), optL(r("client_lastseen")).get, optL(r("n_seen")).get)),
    rows("messages").map(r => r("message_queueid").toString -> Message(
      optL(r("message_timestamp")), optS(r("message_mailhost")), optS(r("message_from")),
      optL(r("message_size")), optL(r("message_nrcpt")).map(_.toInt),
      optS(r("message_statusext")), optS(r("message_client")), optS(r("message_id")),
      optL(r("n_lines")).get)),
    rows("deliveries").map(r => Delivery(optL(r("delivery_timestamp")).get,
      r("delivery_queueid").toString, r("delivery_to").toString, r("delivery_relay").toString,
      r("delivery_delay").toString, r("delivery_delays").toString, r("delivery_dsn").toString,
      r("delivery_status").toString, r("delivery_statusext").toString)))

  def parquetRows(spark: SparkSession, dir: String)(t: String): Seq[String => Any] =
    spark.read.parquet(s"$dir/pfmaillog2db_$t").collect().toSeq
      .map(r => (c: String) => r.getAs[Any](c))

  def jdbcRows(conn: Connection)(t: String): Seq[String => Any] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM pfmaillog2db_$t")
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      val out = mutable.ArrayBuffer.empty[String => Any]
      while (rs.next()) {
        val m = names.zipWithIndex.map { case (n, i) => n -> rs.getObject(i + 1) }.toMap
        out += ((c: String) => m(c.toLowerCase))
      }
      out.toSeq
    } finally st.close()
  }

  // ---------------------------------------------------------------
  // streaming progress → per-layer metrics
  // ---------------------------------------------------------------

  /** Sums a run's micro-batch progress per table: batches, planning,
    * addBatch and commit (WAL + offsets) time, state rows and MB. */
  def progressLayers(ctx: Ctx, runs: Seq[Map[String, Seq[StreamingQueryProgress]]]): Unit = {
    val n = runs.size.toDouble
    Tables.foreach { t =>
      val ps = runs.map(_.getOrElse(s"pfmaillog2db_$t", Nil))
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def perRun(f: Seq[StreamingQueryProgress] => Double) = ps.map(f).sum / n
      ctx.layer(s"streaming.$t.batches", perRun(_.count(_.numInputRows > 0).toDouble), "count")
      ctx.layer(s"streaming.$t.planning_ms", perRun(_.map(dur(_, "queryPlanning")).sum), "ms")
      ctx.layer(s"streaming.$t.add_batch_ms", perRun(_.map(dur(_, "addBatch")).sum), "ms")
      ctx.layer(s"streaming.$t.commit_ms",
        perRun(_.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum), "ms")
      def stateMax(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        perRun(_.map(_.stateOperators.map(f).sum.toDouble).maxOption.getOrElse(0.0))
      ctx.layer(s"streaming.$t.state_rows", stateMax(_.numRowsTotal), "count")
      ctx.layer(s"streaming.$t.state_mb", stateMax(_.memoryUsedBytes) / 1e6, "MB")
    }
  }

  private def progressOf(qs: Seq[StreamingQuery]): Map[String, Seq[StreamingQueryProgress]] =
    qs.map(q => q.name -> q.recentProgress.toSeq).toMap

  // ---------------------------------------------------------------
  // maillog_backfill
  // ---------------------------------------------------------------

  final case class BackfillSize(linesPerDay: Int, nextDayLines: Int, clientPool: Int)
  /** The timed input: 250 000 lines a round at full size, so that the
    * daemon's per-run overhead is a small share of its wall time. */
  def backfillSize(smoke: Boolean): BackfillSize =
    if (smoke) BackfillSize(1000, 300, 300) else BackfillSize(25000, 3000, 20000)
  /** The warm-up's input, a fifth of the timed one at full size. */
  def warmBackfillSize(smoke: Boolean): BackfillSize =
    if (smoke) backfillSize(smoke) else BackfillSize(5000, 3000, 4000)

  val Days = 10
  /** Day 0 is Oct 9, written in the space-padded RFC 3164 form;
    * days 1–9 are Oct 10–18; the next day, Oct 19, lands later. */
  private def dayOfMonth(d: Int) = 9 + d
  private val PaddedSeed = 0x5eedL

  /** A rotated directory of `Days` files (`maillog.9` oldest …
    * `maillog` newest), and the next day's files, one per eight hours,
    * each added to the directory before a daemon restart. The truth
    * covers them all. */
  final case class BackfillInput(days: Seq[File], next: Seq[File], lines: Seq[Line], truth: Truth)

  /** Restarts per round, one per part of the next day. */
  val Restarts = 3
  /** Untimed rounds before the timed ones. */
  val WarmRounds = 2

  /** The padded day is generated from a fixed seed, with its own
    * queue-id length and client pool, so its lines — the ones the
    * parser drops — are the same whatever `--seed` is. Each part of
    * the next day has fresh queue ids and clients and its own hours,
    * so a restart adds rows, updates none, and is never behind the
    * `logs` watermark. */
  def writeBackfill(dir: String, seed: Long, sz: BackfillSize): BackfillInput = {
    Files.createDirectories(Paths.get(dir))
    val perDay = sz.linesPerDay
    val pool = sz.clientPool
    val used = mutable.HashSet.empty[String]
    val rng = new Random(seed)
    val f = new Factory(rng, used, 11, pool, "c", 10)
    val padRng = new Random(PaddedSeed)
    val padF = new Factory(padRng, used, 12, math.max(50, pool / 10), "pad", 172)
    val truth = new Truth
    val all = mutable.ArrayBuffer.empty[Line]
    val days = (0 until Days).map { d =>
      val ls =
        if (d == 0) day(padF, padRng, 10, dayOfMonth(d), perDay, padded = true)
        else day(f, rng, 10, dayOfMonth(d), perDay, padded = false)
      val file = new File(dir, if (d == Days - 1) "maillog" else s"maillog.${Days - 1 - d}")
      writeLines(file, ls)
      all ++= ls
      file
    }
    Files.createDirectories(Paths.get(s"$dir/next"))
    val hours = 86400 / Restarts
    val next = (0 until Restarts).map { k =>
      val f = new Factory(rng, used, 11, math.max(50, pool / 4), s"n$k", 11 + k)
      val ls = day(f, rng, 10, dayOfMonth(Days), sz.nextDayLines / Restarts, padded = false,
        k * hours, (k + 1) * hours - 100)
      val file = new File(s"$dir/next/maillog-20241019-$k")
      writeLines(file, ls)
      all ++= ls
      file
    }
    all.foreach(truth.add)
    BackfillInput(days, next, all.toSeq, truth)
  }

  def writeLines(f: File, ls: Seq[Line]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try ls.foreach { l => w.write(l.render); w.write('\n') } finally w.close()
  }

  final case class DaemonRun(wallS: Double, progress: Map[String, Seq[StreamingQueryProgress]])

  /** One AvailableNow daemon run into the parquet tables under `out`. */
  def backfillRun(spark: SparkSession, input: String, out: String): DaemonRun = {
    val t0 = System.nanoTime()
    val qs = MaillogDaemon.start(spark, MaillogDaemon.Conf(maillog = input,
      out = s"$out/tables", checkpoint = s"$out/ckpt", year = Year), trigger = Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())
    DaemonRun(Stats.secondsSince(t0), progressOf(qs))
  }

  /** A round: the backfill of the rotated days into fresh tables, then
    * each part of the next day lands and the daemon restarts on the
    * same checkpoint to catch it up. */
  final case class Round(full: DaemonRun, restarts: Seq[DaemonRun])

  def backfillRound(ctx: Ctx, in: BackfillInput, out: String, restarts: Int = Restarts): Round = {
    val dir = Paths.get(out, "in")
    Files.createDirectories(dir)
    in.days.foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    val full = ctx.span("streaming.daemon.backfill")(backfillRun(ctx.spark, dir.toString, out))
    val caughtUp = in.next.take(restarts).map { f =>
      Files.copy(f.toPath, dir.resolve(f.getName))
      ctx.span("streaming.daemon.restart")(backfillRun(ctx.spark, dir.toString, out))
    }
    Round(full, caughtUp)
  }

  val backfill: Ctx => Outcome = ctx => {
    lazy val spark = ctx.spark
    val sz = backfillSize(ctx.a.smoke)
    // the warm-up is two rounds on inputs of their own: after one, the
    // first timed round still ran 10-30 % slower than the next (the
    // JIT still speeding up)
    val warm = writeBackfill(s"${ctx.runDir}/warm-in", ctx.a.seed + 1000003L,
      warmBackfillSize(ctx.a.smoke))
    val in = writeBackfill(s"${ctx.runDir}/in", ctx.a.seed, sz)
    val baseLines = in.lines.size - in.lines.count(_.tsMs >= epochMs(10, dayOfMonth(Days), 0))
    ctx.note(s"inputs written: ${in.lines.size} lines")
    (0 until WarmRounds).foreach(i => backfillRound(ctx, warm, s"${ctx.runDir}/warm-out-$i"))
    ctx.note("warm-up done")

    ctx.startTimed()
    val deadline = ctx.deadlineNs(System.nanoTime())
    val rounds = mutable.ArrayBuffer.empty[Round]
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var dupDeliveries = 0L
    do {
      val out = s"${ctx.runDir}/round-${rounds.size}"
      rounds += backfillRound(ctx, in, out)
      ctx.endTimed()
      ctx.note(f"round ${rounds.size - 1}: backfill ${rounds.last.full.wallS}%.2f s, restarts " +
        rounds.last.restarts.map(r => f"${r.wallS}%.2f").mkString(" "))
      val got = gotFrom(parquetRows(spark, s"$out/tables"))
      val (p, f) = check(in.lines, in.truth, got, _.padded)
      problems ++= p.map(x => s"round ${rounds.size - 1}: $x")
      failed += f
      dupDeliveries += got.deliveries.size - got.deliveries.distinct.size
      Dirs.deleteTree(new File(out))
    } while (System.nanoTime() < deadline)

    if (ctx.a.trace) {
      progressLayers(ctx, rounds.map(_.full.progress).toSeq)
      twins(ctx, in.days, baseLines)
      CurationBench.layerProbe(ctx)
    }
    ctx.layer("maillog.deliveries_duplicate_rows", dupDeliveries.toDouble / rounds.size, "count")
    val walls = rounds.map(_.full.wallS).toSeq
    Outcome(problems.toSeq, attempted = in.lines.size.toLong * rounds.size, failed = failed,
      e2e = Seq(
        // every round's backfill, each weighted by its wall time
        ("throughput_per_s", baseLines.toDouble * rounds.size / walls.sum, "1/s"),
        ("latency_p50_s", Stats.median(rounds.flatMap(_.restarts.map(_.wallS)).toSeq), "s")),
      notes = Seq("rounds" -> rounds.size, "backfill_lines" -> baseLines,
        "next_day_lines" -> (in.lines.size - baseLines),
        "distinct_queue_ids" -> in.truth.messages.size, "warm_lines" -> warm.lines.size,
        "backfill_walls_s" -> walls, "restart_walls_s" -> rounds.flatMap(_.restarts.map(_.wallS)).toSeq,
        "padded_lines" -> in.lines.count(_.padded),
        "duplicate_lines" -> (in.lines.size - in.lines.distinct.size),
        "unmatched_lines" -> in.lines.count(_.effect == Unmatched),
        "distinct_clients" -> in.truth.clients.size))
  }

  /** Batch twins of the daemon's work, each written to the `noop`
    * sink so that no count() can prune the work away. */
  private def twins(ctx: Ctx, days: Seq[File], nLines: Int): Unit = {
    import graft.sources.Maillog
    import graft.operators.MaillogOps
    lazy val spark = ctx.spark
    def noop(df: DataFrame): Double =
      Stats.timed(df.write.format("noop").mode("overwrite").save())._2
    def parsed = Maillog.parsed(spark.read.text(days.map(_.getPath): _*).withColumnRenamed("value", "line"), Year)
    val parseS = ctx.span("sources.maillog.parsed")(noop(parsed))
    ctx.layer("sources.maillog.parse_lines_per_s", nLines / parseS, "lines/s")
    ctx.layer("operators.maillog.clients_s",
      ctx.span("operators.maillog.clientsFrom")(noop(MaillogOps.clientsFrom(parsed))), "s")
    ctx.layer("operators.maillog.messages_s",
      ctx.span("operators.maillog.messagesFrom")(noop(MaillogOps.messagesFrom(parsed))), "s")
    ctx.layer("streaming.daemon.deliveries_batch_s",
      ctx.span("streaming.daemon.deliveryRows")(noop(MaillogDaemon.deliveryRows(parsed))), "s")
  }

  // ---------------------------------------------------------------
  // maillog_follow
  // ---------------------------------------------------------------

  final case class FollowSize(ratePerS: Int, warmSeconds: Int, triggerMs: Int, clientPool: Int)
  def followSize(smoke: Boolean): FollowSize =
    if (smoke) FollowSize(100, 1, 2000, 200) else FollowSize(300, 1, 2000, 2000)

  /** A line with the time, from the window start, it is due. */
  final case class Due(dueMs: Long, line: Line)

  /** Fixed synthetic date: Oct 20, 10:00:00 onwards. */
  private val FollowBase = epochMs(10, 20, 10 * 3600)

  /** The open-loop schedule: messages and unmatched lines in time
    * order, due evenly at `rate` lines/s for `seconds`. The pid is the
    * line's sequence number, so every line has its own `logs` row and
    * its lag can be read back. */
  def followSchedule(seed: Long, rate: Int, seconds: Int, clientPool: Int, netBase: Int): Seq[Due] = {
    val rng = new Random(seed)
    val f = new Factory(rng, mutable.HashSet.empty[String], 11, clientPool, "f", netBase)
    val n = rate * seconds
    val raw = mutable.ArrayBuffer.empty[Line]
    // about 6 lines per message, 1 unmatched line in 8 events
    while (raw.size < n * 11 / 10) {
      val t0 = FollowBase + rng.nextInt(seconds) * 1000L
      if (rng.nextInt(8) == 0) raw += f.noise(t0) else raw ++= f.message(t0, 1000L)
    }
    raw.sortBy(_.tsMs).take(n).zipWithIndex.map { case (l, i) =>
      Due(i * 1000L / rate, l.copy(pid = (i + 1).toString))
    }.toSeq
  }

  final case class FollowRun(lines: Seq[Line], lagS: Seq[Double], lateMs: Seq[Double],
                             primeS: Double, got: Got, windowS: Double, lastLandS: Double,
                             progress: Map[String, Seq[StreamingQueryProgress]], file: String)

  private def derbyUrl(dir: String) = s"jdbc:derby:$dir"

  /** Lines each daemon query has read so far, from its progress. */
  private def linesRead(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  private def waitUntil(timeoutS: Double)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < end) Thread.sleep(50)
    cond
  }

  /** Starts the daemon with a Derby sink on a file holding one priming
    * line, waits until every query has landed it (the tables exist,
    * every query has run a batch), then appends the schedule open-loop
    * from one generator thread. */
  def followRun(ctx: Ctx, tag: String, schedule: Seq[Due], triggerMs: Int,
                onWindow: () => Unit = () => ()): FollowRun = {
    val dir = s"${ctx.runDir}/follow-$tag"
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/maillog"
    val db = s"$dir/db"
    val prime = schedule.head.line.copy(pid = "0", tsMs = FollowBase - 1000L)
    writeLines(new File(file), Seq(prime))
    val conn = DriverManager.getConnection(derbyUrl(db) + ";create=true", "APP", "APP")
    try {
      // Spark fires processing-time triggers on multiples of the
      // interval; starting the daemon (and with it the tailer's
      // 500 ms poll loop) 250 ms past a wall-clock second gives every
      // run the same poll-to-trigger phase, which otherwise moves the
      // lag median by up to a quarter of a second
      Thread.sleep(1000 - (System.currentTimeMillis() + 750) % 1000)
      val t0 = System.nanoTime()
      val qs = MaillogDaemon.start(ctx.spark, args = Array(
        "-maillog", file, "-checkpoint", s"$dir/ckpt", "-out", s"$dir/out",
        "-db-url", derbyUrl(db), "-db-dialect", "generic", "-dbuser", "APP", "-dbpass", "APP",
        "-year", Year.toString), trigger = Trigger.ProcessingTime(triggerMs.toLong))
      require(waitUntil(60)(qs.forall(linesRead(_) >= 1)), "daemon did not land the priming line")
      val primeS = Stats.secondsSince(t0)
      ctx.note(f"$tag: primed in $primeS%.2f s")

      val writeMs = new Array[Long](schedule.size)
      onWindow()
      val startMs = System.currentTimeMillis() + 100
      val gen = new Thread(() => {
        val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file, true), UTF_8))
        try {
          var i = 0
          while (i < schedule.size) {
            val wait = startMs + schedule(i).dueMs - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val now = System.currentTimeMillis()
            // every line already due goes out in this write
            while (i < schedule.size && startMs + schedule(i).dueMs <= now) {
              w.write(schedule(i).line.render); w.write('\n')
              writeMs(i) = now
              i += 1
            }
            w.flush()
          }
        } finally w.close()
      }, "perfbench-follow-generator")
      gen.start()
      gen.join()
      val windowS = (System.currentTimeMillis() - startMs) / 1000.0
      // drained when every query has read every line; the database is
      // only read once the queries have stopped
      val expected = schedule.size + 1L
      require(waitUntil(60)(qs.forall(linesRead(_) >= expected)),
        s"follow: queries read ${qs.map(linesRead).mkString("/")} of $expected lines in 60 s")
      ctx.note(f"$tag: all lines landed, window $windowS%.2f s")
      // a query reports progress once its batch is committed
      qs.foreach(_.stop())
      ctx.note(s"$tag: daemon stopped")
      val progress = progressOf(qs)

      val logRows = jdbcRows(conn)("logs")
      val got = gotFrom(t => if (t == "logs") logRows else jdbcRows(conn)(t))
      val created = logRows.map(r =>
        r("log_processid").toString -> r("row_created_at").asInstanceOf[java.sql.Timestamp].getTime).toMap
      val lag = schedule.zipWithIndex.flatMap { case (d, i) =>
        created.get((i + 1).toString).map(c => (c - (startMs + d.dueMs)) / 1000.0) }
      val lastLand = created.values.max
      ctx.note(s"$tag: tables read")
      FollowRun(prime +: schedule.map(_.line), lag, schedule.indices.map(i =>
        (writeMs(i) - (startMs + schedule(i).dueMs)).toDouble), primeS, got, windowS,
        (lastLand - startMs) / 1000.0, progress, file)
    } finally {
      conn.close()
      try DriverManager.getConnection(derbyUrl(db) + ";shutdown=true")
      catch { case _: SQLException => () } // Derby signals a clean shutdown by throwing
    }
  }

  val follow: Ctx => Outcome = ctx => {
    val sz = followSize(ctx.a.smoke)
    val warm = followSchedule(ctx.a.seed + 1000003L, sz.ratePerS, sz.warmSeconds, sz.clientPool, 11)
    followRun(ctx, "warm", warm, sz.triggerMs)
    ctx.note("warm-up done")
    val schedule = followSchedule(ctx.a.seed, sz.ratePerS, ctx.a.seconds, sz.clientPool, 10)
    val r = ctx.span("streaming.daemon.follow")(
      followRun(ctx, "timed", schedule, sz.triggerMs, () => ctx.startTimed()))
    ctx.endTimed()
    val truth = new Truth
    r.lines.foreach(truth.add)
    val (problems, failed) = check(r.lines, truth, r.got, _ => false)
    val lagMissing = if (r.lagS.size == schedule.size) Nil
      else Seq(s"lag known for ${r.lagS.size} of ${schedule.size} lines")
    val probeProblems = if (!ctx.a.trace) Nil else {
      progressLayers(ctx, Seq(r.progress))
      jdbcAndTailer(ctx, r, truth)
      ctx.layer("follow.generator_late_ms", Stats.quantile(r.lateMs, 0.99), "ms")
      RetrievalBench.layerProbe(ctx)
    }
    Outcome(problems ++ lagMissing ++ probeProblems, attempted = r.lines.size.toLong, failed = failed,
      e2e = Seq(
        ("throughput_per_s", r.lines.size / r.lastLandS, "1/s"),
        ("latency_p50_s", Stats.median(r.lagS), "s")),
      notes = Seq("lines" -> r.lines.size, "rate_per_s" -> sz.ratePerS, "trigger_ms" -> sz.triggerMs,
        "start_to_first_row_s" -> r.primeS,
        "lag_p90_s" -> Stats.quantile(r.lagS, 0.9), "lag_max_s" -> r.lagS.max,
        "window_s" -> r.windowS, "generator_late_p99_ms" -> Stats.quantile(r.lateMs, 0.99),
        "distinct_queue_ids" -> truth.messages.size))
  }

  /** Standalone timings of the follow path's two I/O layers: the
    * tailer draining the follow file, and the JDBC sink inserting
    * fresh rows then updating the same rows. */
  private def jdbcAndTailer(ctx: Ctx, r: FollowRun, truth: Truth): Unit = {
    val spool = s"${ctx.runDir}/tailer-probe"
    val tailer = new FileTailer(r.file, spool)
    val bytes = new File(r.file).length
    val pollS = ctx.span("streaming.tailer.poll")(Stats.timed(tailer.poll())._2)
    tailer.close()
    ctx.layer("streaming.tailer.mb_per_s", bytes / 1e6 / pollS, "MB/s")

    lazy val spark = ctx.spark
    import spark.implicits._
    val rows = truth.messages.toSeq.map { case (q, m) =>
      (q, m.from.orNull, m.size.map(Long.box).orNull, m.client.orNull, m.messageId.orNull) }
    val df = rows.toDF("message_queueid", "message_from", "message_size", "message_client", "message_id")
      .repartition(1).cache()
    df.count()
    val db = s"${ctx.runDir}/jdbc-probe"
    val sink = new JdbcUpsertSink(derbyUrl(db) + ";create=true", "probe_messages",
      Seq("message_queueid"), "APP", "APP", "generic")
    val insS = ctx.span("streaming.jdbc.insert")(Stats.timed(sink.write(df, 0L))._2)
    val updS = ctx.span("streaming.jdbc.update")(Stats.timed(sink.write(df, 1L))._2)
    ctx.layer("streaming.jdbc.insert_rows_per_s", rows.size / insS, "rows/s")
    ctx.layer("streaming.jdbc.update_rows_per_s", rows.size / updS, "rows/s")
    try DriverManager.getConnection(derbyUrl(db) + ";shutdown=true")
    catch { case _: SQLException => () }
  }
}
