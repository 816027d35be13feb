package graft

import graft.streaming.{JdbcUpsertSink, MaillogDaemon, MaillogStream}
import graft.sources.Maillog
import java.nio.file.Files

/** End-to-end Structured Streaming test: log file lands in a watched
  * dir → parse → stateful merge-by-queueid → sink, through the daemon.
  * Mirrors the reference daemon's lifecycle on real files. */
class MaillogStreamSpec extends SparkSpec {
  import spark.implicits._

  private val lines1 = Seq(
    "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]",
    "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=100, nrcpt=1 (queue active)",
    "Jan 02 03:04:07 mx1 postfix/cleanup[103]: AB1: message-id=<x@mx1>",
    "garbage line that matches nothing",
    "Jan 02 03:05:00 mx2 postfix/qmgr[104]: CD2: from=<b@example.com>, size=200, nrcpt=2 (queue active)")

  private val lines2 = Seq( // second file: update AB1's size, new client for CD2
    "Jan 02 03:06:00 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=150, nrcpt=1 (queue active)",
    "Jan 02 03:06:01 mx2 postfix/smtpd[105]: CD2: client=host2.example.com[10.0.0.2]")

  test("streaming merge-by-queueid across micro-batches and restarts") {
    val dir = Files.createTempDirectory("maillog").toFile
    val ckpt = Files.createTempDirectory("ckpt").toString
    val out = Files.createTempDirectory("out").toString
    // state TTL enabled: with the native state-store TTL this
    // composes with AvailableNow (no timeout batches scheduled, the
    // run still terminates)
    def runDaemon(): Unit = MaillogDaemon.start(spark,
      args = Array("-maillog", dir.getAbsolutePath, "-out", out,
        "-checkpoint", ckpt, "-state-ttl-ms", "3600000"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreach(_.awaitTermination())

    Files.write(new java.io.File(dir, "maillog.1").toPath,
      lines1.mkString("\n").getBytes)
    runDaemon()

    // second file + a fresh daemon on the same checkpoint: keyed state
    // must survive the restart (the daemon-restart scenario)
    Files.write(new java.io.File(dir, "maillog.2").toPath,
      lines2.mkString("\n").getBytes)
    runDaemon()

    // last update per queueid is the merged row
    val rows = spark.read.parquet(s"$out/pfmaillog2db_messages")
      .orderBy($"message_queueid", $"n_lines".desc)
      .groupBy("message_queueid")
      .agg(
        org.apache.spark.sql.functions.max_by(
          org.apache.spark.sql.functions.struct("message_from", "message_size",
            "message_client", "message_id", "n_lines"), $"n_lines").as("s"))
      .select("message_queueid", "s.*")
      .as[(String, Option[String], Option[Long], Option[String], Option[String], Long)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

    val ab1 = rows("AB1")
    assert(ab1._1.contains("<a@example.com>"))
    assert(ab1._2.contains(150L), "second batch must update size 100 -> 150")
    assert(ab1._3.contains("host1.example.com[10.0.0.1]"))
    assert(ab1._4.contains("<x@mx1>"))
    assert(ab1._5 === 4L, "AB1 saw 4 patch lines")

    val cd2 = rows("CD2")
    assert(cd2._2.contains(200L))
    assert(cd2._3.contains("host2.example.com[10.0.0.2]"),
      "client from batch 2 must merge into state from batch 1")
  }

  test("batch replay: readLines + patches on a real file") {
    val f = Files.createTempFile("maillog", ".log")
    Files.write(f, (lines1 ++ lines2).mkString("\n").getBytes)
    val parsed = Maillog.parsed(Maillog.readLines(spark, f.toString))
    assert(parsed.count() === 6) // garbage line dropped
    val patches = MaillogStream.patches(parsed)
    assert(patches.count() === 6)
    assert(patches.filter($"queueid" === "AB1").count() === 4)
  }

  // a line with a VALID header whose message matches no branch regex
  // — exactly the format-drift signal the monitor exists to surface
  private val driftLine =
    "Jan 02 03:07:00 mx1 postfix/smtpd[101]: connect from unknown[1.2.3.4]"

  test("stream_parse_drift: streamed coverage snapshot == batch m10 on the same spool")(
    coverageReplay(_.getPath))

  // the snapshots are written, listed and pruned through one Hadoop
  // filesystem, so a `file:` URI `out` behaves as a plain path does
  test("stream_parse_drift with a file: URI out")(coverageReplay(_.toURI.toString))

  /** Three coverage runs on one checkpoint into `spell(outDir)`. */
  private def coverageReplay(spell: java.io.File => String): Unit = {
    val dir = Files.createTempDirectory("maillog-cov").toFile
    val ckpt = Files.createTempDirectory("ckpt-cov").toString
    val outDir = new java.io.File(Files.createTempDirectory("out-cov").toFile, "coverage")
    val out = spell(outDir)
    val avail = org.apache.spark.sql.streaming.Trigger.AvailableNow()
    def snaps() = outDir.list().filter(_.startsWith("snap=")).sorted.toSeq

    Files.write(new java.io.File(dir, "maillog.1").toPath,
      lines1.mkString("\n").getBytes)
    val q1 = MaillogStream.coverageStream(
      MaillogStream.parsedStream(spark, dir.getAbsolutePath),
      out, ckpt, avail)
    q1.awaitTermination()

    // second file + drifted line under the SAME checkpoint: the
    // Complete-mode snapshot must read as cumulative totals (replay
    // semantics — the restart is the daemon-restart scenario)
    Files.write(new java.io.File(dir, "maillog.2").toPath,
      (lines2 :+ driftLine).mkString("\n").getBytes)
    val q2 = MaillogStream.coverageStream(
      MaillogStream.parsedStream(spark, dir.getAbsolutePath),
      out, ckpt, avail)
    q2.awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("log_process", "n_lines", "n_qmgr", "n_smtpd", "n_cleanup",
        "n_smtp", "n_unmatched")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // batch m10 aggregate over the SAME spool through the one shared
    // definition (coverageOf) — the test-oracle pin
    def batch() = rows(graft.operators.MaillogOps.coverageOf(
      Maillog.parsed(spark.read.text(dir.getAbsolutePath)
        .withColumnRenamed("value", "line"))))

    val streamed = rows(MaillogStream.latestCoverage(spark, out))
    // per-batch layout (ADVICE r15): two AvailableNow runs landed two
    // snapshots; both retained (prune keeps the runner-up so a reader
    // that just resolved it never loses the dir mid-read)
    assert(snaps() == Seq("snap=0", "snap=1"))
    assert(streamed == batch(), s"streamed=$streamed batch=${batch()}")
    // and the drift signal actually fires: the unknown message shape
    // reads as an unmatched line on its process
    assert(streamed.exists { case (p, _, _, _, _, _, u) =>
      p == "postfix/smtpd" && u == 1L })

    // a third snapshot prunes the oldest
    Files.write(new java.io.File(dir, "maillog.3").toPath,
      lines2.take(1).mkString("\n").getBytes)
    MaillogStream.coverageStream(
      MaillogStream.parsedStream(spark, dir.getAbsolutePath),
      out, ckpt, avail).awaitTermination()
    assert(snaps() == Seq("snap=1", "snap=2"))
    assert(rows(MaillogStream.latestCoverage(spark, out)) == batch())
  }

  test("the daemon starts the coverage monitor behind -coverage") {
    val dir = Files.createTempDirectory("maillog-cov2").toFile
    Files.write(new java.io.File(dir, "maillog.1").toPath,
      (lines1 ++ lines2 :+ driftLine).mkString("\n").getBytes)
    val root = Files.createTempDirectory("daemon-cov").toString
    val qs = graft.streaming.MaillogDaemon.start(spark,
      args = Array("-maillog", dir.getAbsolutePath,
        "-out", s"$root/out", "-checkpoint", s"$root/ckpt", "-coverage"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(qs.size == 5, "the -coverage flag must add the fifth stream")
    qs.foreach(_.awaitTermination())
    val cov = graft.streaming.MaillogStream.latestCoverage(
      spark, s"$root/out/pfmaillog2db_coverage")
    assert(cov.count() > 0)
    assert(cov.filter($"log_process" === "postfix/smtpd")
      .select("n_unmatched").collect()(0).getLong(0) == 1L)
  }

  test("jdbc upsert sql is well-formed mysql") {
    val sink = new JdbcUpsertSink("jdbc:mysql://h/db", "messages",
      Seq("message_queueid"), "u", "p")
    val sql = sink.upsertSql(Seq("message_queueid", "message_from", "message_size"))
    assert(sql ===
      "INSERT INTO messages (message_queueid, message_from, message_size) " +
      "VALUES (?, ?, ?) ON DUPLICATE KEY UPDATE " +
      "message_from=VALUES(message_from), message_size=VALUES(message_size)")
    intercept[IllegalArgumentException] {
      sink.upsertSql(Seq("no_key_here"))
    }
  }
}
