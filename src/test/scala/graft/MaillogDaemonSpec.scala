package graft

import graft.streaming.MaillogDaemon
import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger

/** Drives the full four-table daemon on real files with parquet
  * sinks (no DB in this container). */
class MaillogDaemonSpec extends SparkSpec {

  test("daemon materialises all four reference tables") {
    val dir = Files.createTempDirectory("maillog").toString
    val out = Files.createTempDirectory("out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    Files.write(java.nio.file.Paths.get(dir, "maillog"),
      Seq(
        "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]",
        "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=100, nrcpt=1 (queue active)",
        "Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@example.org>, relay=r.example.net[10.1.0.1]:25, delay=1.5, delays=0.1/0.2/0.3/0.4, dsn=2.0.0, status=sent (250 ok)",
        "Jan 02 03:04:08 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]",
        // exact duplicate of the first line: logs must dedup it,
        // clients must still count it (reference semantics)
        "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]"
      ).mkString("\n").getBytes)

    val logfile = Files.createTempFile("daemon", ".log").toString
    // -state-ttl-ms on: native state TTL must not keep an
    // AvailableNow run alive (the old ProcessingTimeTimeout did)
    val qs = MaillogDaemon.start(spark,
      args = Array("-maillog", dir, "-out", out, "-checkpoint", ckpt,
        "-logfile", logfile, "-year", "2024", "-state-ttl-ms", "3600000"),
      trigger = Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())

    // progress events arrive on the async listener bus — poll briefly
    def logLines() = scala.io.Source.fromFile(logfile).getLines().toSeq
    val deadline = System.nanoTime() + 15L * 1000000000
    while (!logLines().exists(_.contains("numInputRows")) &&
           System.nanoTime() < deadline) Thread.sleep(200)
    val progressLog = logLines()
    assert(progressLog.count(_.contains("\"event\":\"started\"")) === 4,
      "one started event per table stream in the -logfile program log")
    assert(progressLog.exists(_.contains("numInputRows")),
      "micro-batch progress lines present")

    val logs = spark.read.parquet(s"$out/pfmaillog2db_logs")
    assert(logs.count() === 4, "duplicate raw line deduped in-stream")
    assert(logs.columns.contains("log_processid"))

    val clients = spark.read.parquet(s"$out/pfmaillog2db_clients")
    val c = clients.orderBy(org.apache.spark.sql.functions.col("n_seen").desc).first()
    assert(c.getAs[String]("client_rdns") === "host1.example.com")
    assert(c.getAs[Long]("n_seen") === 3L,
      "all three smtpd lines count toward the client (dup only skips logs)")

    val messages = spark.read.parquet(s"$out/pfmaillog2db_messages")
    val m = messages.orderBy(org.apache.spark.sql.functions.col("n_lines").desc).first()
    assert(m.getAs[String]("message_queueid") === "AB1")
    assert(m.getAs[Long]("message_size") === 100L)

    val deliveries = spark.read.parquet(s"$out/pfmaillog2db_deliveries")
    assert(deliveries.count() === 1)
    assert(deliveries.first().getAs[String]("delivery_status") === "sent")
  }

  test("single growing file: mid-stream appends land in all four tables")(
    tailGrowingFile(_.toString))

  // the tailer spools with local file IO, the stream reads through
  // Hadoop: a `file:` URI checkpoint must resolve to one directory
  test("single growing file with a file: URI checkpoint")(
    tailGrowingFile(_.toUri.toString))

  private def tailGrowingFile(spell: java.nio.file.Path => String): Unit = {
    val dir = Files.createTempDirectory("tailrun").toString
    val file = s"$dir/maillog"
    val out = Files.createTempDirectory("tailout").toString
    val ckpt = spell(Files.createTempDirectory("tailckpt"))
    Files.write(java.nio.file.Paths.get(file),
      ("Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]\n" +
       "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=100, nrcpt=1 (queue active)\n").getBytes)

    // -maillog is a FILE, the reference's default deployment — the
    // daemon must follow appends, not just new files in a directory
    var qs = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      qs = MaillogDaemon.start(spark,
        args = Array("-maillog", file, "-out", out, "-checkpoint", ckpt, "-year", "2024"),
        trigger = Trigger.ProcessingTime("500 milliseconds"))
      def count(t: String): Long =
        try spark.read.parquet(s"$out/$t").count() catch { case _: Exception => 0L }
      def waitFor(cond: => Boolean): Boolean = {
        val deadline = System.nanoTime() + 60L * 1000000000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(250)
        cond
      }
      assert(waitFor(count("pfmaillog2db_logs") >= 2 &&
        count("pfmaillog2db_clients") >= 1 && count("pfmaillog2db_messages") >= 1),
        "initial file contents ingested")

      // append mid-stream: the smtp delivery line plus a second client
      Files.write(java.nio.file.Paths.get(file),
        ("Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@example.org>, relay=r.example.net[10.1.0.1]:25, delay=1.5, delays=0.1/0.2/0.3/0.4, dsn=2.0.0, status=sent (250 ok)\n" +
         "Jan 02 03:04:08 mx2 postfix/smtpd[104]: CD2: client=host2.example.com[10.0.0.2]\n").getBytes,
        java.nio.file.StandardOpenOption.APPEND)

      assert(waitFor(count("pfmaillog2db_logs") >= 4 &&
        count("pfmaillog2db_deliveries") >= 1 && count("pfmaillog2db_messages") >= 2),
        s"appended lines reach all four tables " +
          s"(logs=${count("pfmaillog2db_logs")}, deliveries=${count("pfmaillog2db_deliveries")}, " +
          s"messages=${count("pfmaillog2db_messages")}, clients=${count("pfmaillog2db_clients")})")
      assert(waitFor(count("pfmaillog2db_clients") >= 2), "appended client upserted")
    } finally {
      qs.foreach(_.stop())
      // a tailer that reads a `file:` URI as a relative path spools
      // under `<cwd>/file:/…`: remove that tree and its emptied parents
      if (ckpt.startsWith("file:")) {
        val stray = new java.io.File(ckpt)
        org.apache.commons.io.FileUtils.deleteQuietly(stray)
        Iterator.iterate(stray.getParentFile)(_.getParentFile)
          .takeWhile(_ != null).foreach(_.delete()) // deletes only empty dirs
      }
    }
  }

  test("daemon against an EMPTY database auto-creates and fills all four tables") {
    val dir = Files.createTempDirectory("maillog-db").toString
    val ckpt = Files.createTempDirectory("ckpt-db").toString
    Files.write(java.nio.file.Paths.get(dir, "maillog"),
      Seq(
        "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]",
        "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=100, nrcpt=1 (queue active)",
        "Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@example.org>, relay=r.example.net[10.1.0.1]:25, delay=1.5, delays=0.1/0.2/0.3/0.4, dsn=2.0.0, status=sent (250 ok)",
        "Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@example.org>, relay=r.example.net[10.1.0.1]:25, delay=1.5, delays=0.1/0.2/0.3/0.4, dsn=2.0.0, status=sent (250 ok)"
      ).mkString("\n").getBytes)

    // fresh in-memory database: NO tables exist — the daemon must
    // create the reference schema itself (maillog2db.go:163-166)
    val dburl = "jdbc:derby:memory:daemonfresh;create=true"
    val qs = MaillogDaemon.start(spark,
      args = Array("-maillog", dir, "-checkpoint", ckpt,
        "-db-url", dburl, "-db-dialect", "generic",
        "-dbuser", "APP", "-dbpass", "APP", "-year", "2024"),
      trigger = Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())

    def readTable(t: String) = spark.read.format("jdbc")
      .option("url", dburl).option("dbtable", t)
      .option("user", "APP").option("password", "APP").load()

    val logs = readTable("pfmaillog2db_logs")
    // the duplicated smtp line is removed by the in-stream
    // full-tuple dedup before it reaches the logs sink
    assert(logs.count() === 3)
    // reference bookkeeping columns (maillog2db.go:61-110) present
    val lcols = logs.columns.map(_.toLowerCase).toSet
    assert(Set("id", "row_created_at", "row_updated_at").subsetOf(lcols), lcols.toString)

    val clients = readTable("pfmaillog2db_clients")
    assert(clients.count() === 1)
    val c = clients.first()
    assert(c.getAs[String]("CLIENT_RDNS") === "host1.example.com")
    assert(c.getAs[java.sql.Timestamp]("ROW_CREATED_AT") != null)

    val messages = readTable("pfmaillog2db_messages")
    assert(messages.count() === 1)
    val m = messages.first()
    assert(m.getAs[String]("MESSAGE_QUEUEID") === "AB1")
    assert(m.getAs[Long]("MESSAGE_SIZE") === 100L)
    assert(m.getAs[String]("MESSAGE_CLIENT") === "host1.example.com[10.0.0.1]")

    val deliveries = readTable("pfmaillog2db_deliveries")
    assert(deliveries.count() === 1, "duplicate delivery absorbed by the unique key hash")
    assert(deliveries.first().getAs[String]("DELIVERY_STATUS") === "sent")
  }
}
