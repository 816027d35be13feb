package graft.streaming

import graft.GraftSession
import graft.functions.MaillogParse._
import graft.operators.MaillogOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, ValueState}

/** Drop-in replacement for the reference daemon's CLI
  * (maillog2db.go:115-128): watch a maillog location, keep the four
  * tables up to date in MySQL (or parquet when no DB is configured).
  *
  * Flags mirror the reference: -maillog -dbhost -dbport -dbuser
  * -dbpass -dbname -debug; graft adds -out (parquet sink dir),
  * -checkpoint and -state-ttl-ms. A maillog2db user can run:
  *
  *   spark-submit --class graft.streaming.MaillogDaemon graft.jar \
  *     -maillog /var/log/maillog-dir -dbhost 10.0.0.1 -dbname maillog2db \
  *     -dbuser u -dbpass p
  *
  * Four streaming queries, one per table: logs (append, deduped
  * in-stream), clients (stateful upsert by client key), messages
  * (stateful merge by queueid), deliveries (append); DB-side
  * PRIMARY/UNIQUE keys give the reference's insert-if-absent
  * semantics on the append tables. The queries share the parse
  * definition, not its execution: each one lists and parses the
  * input itself. Each table's rows come from the one projection the
  * batch operators use too ([[graft.operators.MaillogOps]]).
  */
object MaillogDaemon {

  case class ClientRow(client: String, client_rdns: String,
                       client_addr: String,
                       client_lastseen: java.sql.Timestamp, n_seen: Long)

  /** Client upsert as a `StatefulProcessor`: keyed
    * `ValueState[ClientRow]` with native TTL (see
    * [[MaillogStream.MessageMergeProcessor]] for why this replaced
    * `flatMapGroupsWithState` + ProcessingTimeTimeout). With TTL on,
    * a key whose state was evicted restarts n_seen/lastseen from the
    * new lines only — the SINK's per-column merge policy (max) keeps
    * the DB row from regressing (see [[MaillogDaemon.MergePolicies]]);
    * n_seen then counts "since last eviction", a documented lower
    * bound rather than an exact lifetime total. */
  private[streaming] class ClientUpsertProcessor(stateTtlMs: Long)
      extends StatefulProcessor[(String, String, String), ClientRow, ClientRow] {
    @transient private var state: ValueState[ClientRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState("client", Encoders.product[ClientRow],
        StateTtl.config(stateTtlMs))
    }

    override def handleInputRows(key: (String, String, String),
                                 rows: Iterator[ClientRow],
                                 timerValues: TimerValues): Iterator[ClientRow] = {
      val rs = rows.toSeq
      val prev = Option(state.get())
      val latest = (prev.toSeq ++ rs)
        .maxBy(r => Option(r.client_lastseen).map(_.getTime).getOrElse(Long.MinValue))
      val merged = latest.copy(
        n_seen = prev.map(_.n_seen).getOrElse(0L) + rs.size)
      state.update(merged)
      Iterator.single(merged)
    }
  }

  /** Stateful client upsert: newest lastseen per (client, rdns, addr)
    * — streaming form of the reference's recordClientEntry
    * (maillog2db.go:308-330). `stateTtlMs > 0` evicts idle client
    * keys (same bounded-state contract as the message merge); the
    * DB row keeps the last upserted values. */
  def clientUpdates(parsed: DataFrame, stateTtlMs: Long = 0L): Dataset[ClientRow] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    MaillogOps.clientLines(parsed)
      .select(col("client"), col("client_rdns"), col("client_addr"),
        col("log_timestamp").as("client_lastseen"), lit(1L).as("n_seen"))
      .as[ClientRow]
      .groupByKey(c => (c.client, c.client_rdns, c.client_addr))
      .transformWithState(new ClientUpsertProcessor(stateTtlMs),
        StateTtl.mode(stateTtlMs), OutputMode.Update())
  }

  /** Stateless delivery parse — append; DB unique key dedups
    * (maillog2db.go:395-442). The ONE delivery projection: the batch
    * deliveries (MaillogOps m04/m05/m07–m09/m11–m13) and
    * [[graft.api.Graft.maillogTables]] add their `distinct()` to it.
    * One regex pass per candidate line, all groups at once. */
  def deliveryRows(parsed: DataFrame): DataFrame =
    parsed
      .select(col("log_timestamp"),
        MaillogOps.branchGroups("to=", SmtpRe).as("g"))
      .filter(col("g").isNotNull)
      .select(
        col("log_timestamp").as("delivery_timestamp"),
        col("g").getItem(1).as("delivery_queueid"),
        col("g").getItem(2).as("delivery_to"),
        col("g").getItem(3).as("delivery_relay"),
        col("g").getItem(4).as("delivery_delay"),
        col("g").getItem(5).as("delivery_delays"),
        col("g").getItem(6).as("delivery_dsn"),
        col("g").getItem(7).as("delivery_status"),
        col("g").getItem(8).as("delivery_statusext"))

  case class Conf(
      maillog: String = "/var/log/maillog",
      logfile: String = "", // reference: program log next to binary
      out: String = "/tmp/graft-maillog",
      checkpoint: String = "/tmp/graft-maillog-ckpt",
      dbhost: String = "", dbport: Int = 3306, dbuser: String = "username",
      dbpass: String = "password", dbname: String = "databasename",
      dbDialect: String = "mysql",
      dbUrl: String = "", // overrides the mysql:// URL for other JDBC DBs
      stateTtlMs: Long = 0L, debug: Boolean = false,
      maxFilesPerTrigger: Int = 0,
      // round 15: start the m10 parse-coverage monitor beside the
      // four tables (stream_parse_drift — the 24/7 unmatched-line
      // signal); snapshots land as parquet under out/
      coverage: Boolean = false,
      // reference injects the wall-clock year (maillog2db.go:444);
      // override for replaying archived logs deterministically
      year: Int = 0)

  /** The reference's `-logfile` program log, streaming-native: one
    * JSON line per micro-batch progress event plus lifecycle events
    * (maillog2db.go:119,130-140). */
  private class ProgressLogger(path: String)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    private def log(line: String): Unit = synchronized {
      val w = new java.io.FileWriter(path, true)
      try w.write(line + "\n") finally w.close()
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      log(s"""{"event":"started","query":${jstr(String.valueOf(e.name))},"id":"${e.id}"}""")
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      log(e.progress.json)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      log(s"""{"event":"terminated","id":"${e.id}","exception":${e.exception.map(jstr).getOrElse("null")}}""")
  }

  // one logger per (session, logfile): a restart of start() must not
  // stack listeners (duplicated lines, stale files held forever)
  private val loggers =
    scala.collection.mutable.Map.empty[(SparkSession, String), ProgressLogger]

  private def installLogger(spark: SparkSession, path: String): Unit =
    loggers.synchronized {
      loggers.remove((spark, path)).foreach(spark.streams.removeListener)
      val l = new ProgressLogger(path)
      loggers((spark, path)) = l
      spark.streams.addListener(l)
    }

  private val ValueFlags = Set(
    "-maillog", "-logfile", "-out", "-checkpoint", "-dbhost", "-dbport",
    "-dbuser", "-dbpass", "-dbname", "-db-dialect", "-db-url",
    "-state-ttl-ms", "-year", "-max-files-per-trigger")

  /** Go-flag-style parsing: `-debug` may appear bare (like the
    * reference CLI); value flags consume the next token. */
  private[streaming] def parseArgs(args: Array[String]): Conf = {
    @annotation.tailrec
    def go(rest: List[String], c: Conf): Conf = rest match {
      case "-debug" :: v :: t if v == "true" || v == "false" =>
        go(t, c.copy(debug = v.toBoolean))
      case "-debug" :: t => go(t, c.copy(debug = true))
      case "-coverage" :: v :: t if v == "true" || v == "false" =>
        go(t, c.copy(coverage = v.toBoolean))
      case "-coverage" :: t => go(t, c.copy(coverage = true))
      case "-maillog" :: v :: t => go(t, c.copy(maillog = v))
      case "-logfile" :: v :: t => go(t, c.copy(logfile = v))
      case "-out" :: v :: t => go(t, c.copy(out = v))
      case "-checkpoint" :: v :: t => go(t, c.copy(checkpoint = v))
      case "-dbhost" :: v :: t => go(t, c.copy(dbhost = v))
      case "-dbport" :: v :: t => go(t, c.copy(dbport = v.toInt))
      case "-dbuser" :: v :: t => go(t, c.copy(dbuser = v))
      case "-dbpass" :: v :: t => go(t, c.copy(dbpass = v))
      case "-dbname" :: v :: t => go(t, c.copy(dbname = v))
      case "-db-dialect" :: v :: t => go(t, c.copy(dbDialect = v))
      case "-db-url" :: v :: t => go(t, c.copy(dbUrl = v))
      case "-state-ttl-ms" :: v :: t => go(t, c.copy(stateTtlMs = v.toLong))
      case "-year" :: v :: t => go(t, c.copy(year = v.toInt))
      case "-max-files-per-trigger" :: v :: t => go(t, c.copy(maxFilesPerTrigger = v.toInt))
      case flag :: Nil if ValueFlags(flag) =>
        throw new IllegalArgumentException(
          s"flag $flag requires a value (usage: see MaillogDaemon scaladoc)")
      case unknown :: _ =>
        // fail loudly like the reference's Go flag package — a typo'd
        // -maillog must not silently watch the default path
        throw new IllegalArgumentException(
          s"unknown flag: $unknown (usage: see MaillogDaemon scaladoc)")
      case Nil => c
    }
    go(args.toList, Conf())
  }

  /** Reference column sizes for the auto-created schema
    * (maillog2db.go:61-110 gorm sql tags; untagged strings get gorm's
    * default VARCHAR(255)). */
  private[streaming] val ColumnTypes: Map[String, Map[String, String]] = Map(
    "pfmaillog2db_logs" -> Map(
      "log_mailhost" -> "VARCHAR(100)", "log_process" -> "VARCHAR(100)",
      "log_processid" -> "VARCHAR(100)", "log_message" -> "VARCHAR(500)"),
    "pfmaillog2db_clients" -> Map(
      "client" -> "VARCHAR(500)", "client_rdns" -> "VARCHAR(255)",
      "client_addr" -> "VARCHAR(50)"),
    "pfmaillog2db_messages" -> Map(
      "message_mailhost" -> "VARCHAR(255)", "message_queueid" -> "VARCHAR(16)",
      "message_from" -> "VARCHAR(100)", "message_client" -> "VARCHAR(500)",
      "message_statusext" -> "VARCHAR(255)", "message_id" -> "VARCHAR(500)"),
    "pfmaillog2db_deliveries" -> Map(
      "delivery_queueid" -> "VARCHAR(16)", "delivery_to" -> "VARCHAR(100)",
      "delivery_relay" -> "VARCHAR(100)", "delivery_delay" -> "VARCHAR(50)",
      "delivery_delays" -> "VARCHAR(50)", "delivery_dsn" -> "VARCHAR(25)",
      "delivery_status" -> "VARCHAR(50)", "delivery_statusext" -> "VARCHAR(255)"))

  /** Sink factory: JDBC upsert when a db host is configured, parquet
    * append otherwise. The JDBC sink auto-creates the reference
    * schema (tables + bookkeeping columns) on first write, like the
    * reference's AutoMigrate (maillog2db.go:163-166). */
  /** Per-table merge policies: with state TTL enabled, an evicted key
    * re-emits rows rebuilt from EMPTY state — a plain overwrite would
    * null out previously merged message fields and regress counters.
    * Payload fields take last-NON-NULL (the reference's merge
    * semantics, go:332-358); counters and lastseen marks are
    * monotone. Without TTL the emitted rows always carry the full
    * merged values, so these policies change nothing. */
  private val MergePolicies: Map[String, Map[String, String]] = Map(
    "pfmaillog2db_messages" -> (Seq(
      "message_timestamp", "message_mailhost", "message_from",
      "message_size", "message_nrcpt", "message_statusext",
      "message_client", "message_id").map(_ -> "coalesce").toMap
      + ("n_lines" -> "max")),
    "pfmaillog2db_clients" -> Map(
      "client_lastseen" -> "max", "n_seen" -> "max"))

  private def sinkFor(c: Conf, table: String, keys: Seq[String]): (DataFrame, Long) => Unit =
    if (c.dbUrl.nonEmpty || c.dbhost.nonEmpty) {
      val url =
        if (c.dbUrl.nonEmpty) c.dbUrl
        else s"jdbc:mysql://${c.dbhost}:${c.dbport}/${c.dbname}"
      new JdbcUpsertSink(url, table, keys, c.dbuser, c.dbpass, c.dbDialect,
        createTypes = ColumnTypes.getOrElse(table, Map.empty),
        mergePolicy = MergePolicies.getOrElse(table, Map.empty)).write _
    } else ParquetSink(s"${c.out}/$table")

  /** Starts the four table streams; returns them (caller awaits).
    *
    * When `-maillog` points at a REGULAR FILE — the reference's
    * default deployment, one growing `/var/log/maillog`
    * (maillog2db.go:168, tail -F with re-open) — a [[FileTailer]] is
    * started to follow appends and rotations, spooling completed
    * lines under the checkpoint dir for the file source. A directory
    * input keeps the plain new-files-in-dir semantics. */
  def start(spark: SparkSession, c0: Conf = Conf(), args: Array[String] = Array(),
            trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Seq[StreamingQuery] = {
    val c = if (args.nonEmpty) parseArgs(args) else c0
    if (c.logfile.nonEmpty)
      installLogger(spark, c.logfile)
    MaillogStream.useRocksDbStateStore(spark)
    // the session may be the caller's, not one GraftSession prepared
    graft.io.LocalFs.install(spark)
    // a path that is not (yet) a directory gets the tailer: the
    // reference's -maillog names a file that may not exist at boot
    // (tail -F waits for creation — FileTailer's no-file poll case);
    // only an existing directory keeps new-files-in-dir semantics
    val maillogFile = new java.io.File(c.maillog)
    var tailer: Option[FileTailer] = None
    val inputPath =
      if (maillogFile.isFile || !maillogFile.exists()) {
        // the tailer writes its spool with LOCAL file IO while Spark
        // reads it back as a path: a remote checkpoint URI (hdfs://,
        // s3a://) would silently split the two onto different
        // filesystems — the tailer spooling into a literal './hdfs:…'
        // directory while the stream lists the empty remote path. A
        // `file:` URI resolves to its local path, and both sides get
        // that one path.
        val uri =
          try Some(java.net.URI.create(c.checkpoint))
          catch { case _: IllegalArgumentException => None } // plain local path
        val scheme = uri.flatMap(u => Option(u.getScheme))
        require(scheme.forall(_ == "file"),
          s"tailing a single file requires a local checkpoint dir " +
            s"(got scheme '${scheme.orNull}'); use a directory input for " +
            "remote-checkpoint deployments")
        val localCkpt =
          if (scheme.isDefined) java.nio.file.Paths.get(uri.get)
          else java.nio.file.Paths.get(c.checkpoint)
        val spoolDir = localCkpt.resolve("tail-spool").toString
        tailer = Some(new FileTailer(c.maillog, spoolDir).start())
        spoolDir
      } else c.maillog
    val parsed = MaillogStream.parsedStream(spark, inputPath, c.year, c.maxFilesPerTrigger)
    def ckpt(t: String) = s"${c.checkpoint}/$t"
    // one skeleton per table stream: query `pfmaillog2db_<t>`, its
    // checkpoint `<checkpoint>/<t>`, the table's sink keyed on `keys`
    def table(t: String, rows: DataFrame, mode: OutputMode, keys: Seq[String]) =
      rows.writeStream.queryName(s"pfmaillog2db_$t")
        .outputMode(mode)
        .option("checkpointLocation", ckpt(t)).trigger(trigger)
        .foreachBatch(sinkFor(c, s"pfmaillog2db_$t", keys))
        .start()

    // insert-if-absent (maillog2db.go:283-306) done in-stream: keyed
    // dedup state on the full parsed tuple, bounded by the event-time
    // watermark
    val logs = table("logs",
      parsed.withWatermark("log_timestamp", "1 hour").dropDuplicates(parsed.columns),
      OutputMode.Append, parsed.columns)
    val clients = table("clients", clientUpdates(parsed, c.stateTtlMs).toDF(),
      OutputMode.Update, Seq("client", "client_rdns", "client_addr"))
    val messages = table("messages",
      MaillogStream.messageUpdates(MaillogStream.patches(parsed), c.stateTtlMs).toDF(),
      OutputMode.Update, Seq("message_queueid"))
    val deliveryFrame = deliveryRows(parsed)
    val deliveries = table("deliveries", deliveryFrame,
      OutputMode.Append, deliveryFrame.columns)

    // the optional 5th stream: the m10 coverage monitor (Complete-
    // mode bounded aggregate; one cumulative snapshot dir per
    // micro-batch, read via MaillogStream.latestCoverage — an ops
    // view, parquet regardless of DB config)
    val coverage =
      if (c.coverage)
        Seq(MaillogStream.coverageStream(parsed,
          s"${c.out}/pfmaillog2db_coverage", ckpt("coverage"), trigger))
      else Seq.empty

    val qs = Seq(logs, clients, messages, deliveries) ++ coverage
    // the tailer outlives nothing: when the last daemon query
    // terminates, close it — otherwise the poll thread follows the
    // file forever, and a restarted daemon on the same checkpoint
    // would race TWO tailers on one spool/state file (overlapping
    // seq numbers, clobbered offsets)
    tailer.foreach { t =>
      val remaining = java.util.concurrent.ConcurrentHashMap
        .newKeySet[java.util.UUID]()
      qs.foreach(q => remaining.add(q.id))
      val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
          remaining.remove(e.id)
          if (remaining.isEmpty) { t.close(); spark.streams.removeListener(this) }
        }
      }
      spark.streams.addListener(l)
      // a query that died before addListener ran (e.g. failed at its
      // first batch) never delivers its terminated event — sweep for
      // already-dead queries after registration so `remaining` still
      // drains and the tailer is not leaked
      qs.filterNot(_.isActive).foreach(q => remaining.remove(q.id))
      if (remaining.isEmpty) { t.close(); spark.streams.removeListener(l) }
    }
    // TTL-enabled stateful queries never quiesce on their own under
    // AvailableNow (processing-time mode schedules empty batches
    // forever); enforce AvailableNow's process-then-stop contract
    if (c.stateTtlMs > 0 && trigger == Trigger.AvailableNow())
      MaillogStream.stopWhenDrained(Seq(clients, messages))
    qs
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = "graft-maillog-daemon")
    start(spark, args = args)
    spark.streams.awaitAnyTermination()
  }
}
