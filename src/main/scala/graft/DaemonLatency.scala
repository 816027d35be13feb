package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The daemon's CONTINUOUS-trigger ops card (VERDICT r11 #6): the
  * AvailableNow bench measures THROUGHPUT (lines/sec through all four
  * tables); the reference, though, is a continuous tailer
  * (maillog2db.go:168 — tail -F, rows land as they are written), so
  * its native metric is arrival→landed LATENCY. This tool measures it
  * end-to-end per table: start the daemon in its reference deployment
  * shape (single growing maillog file + FileTailer + ProcessingTime
  * trigger), append marker waves — one wave carries one line for
  * each parse branch (smtpd/qmgr/cleanup/smtp) under a unique
  * queue id — and poll each landed parquet table for the wave's
  * marker. Latency = append-to-visible wall time, which includes the
  * tailer poll, the file-source discovery, the trigger wait, the
  * stateful operators (watermarked dedup for logs, the two
  * transformWithState upserts for clients/messages) and the sink
  * commit — the whole path a deployed reader experiences.
  *
  * Not part of the driver contract; a measurement main like
  * [[Stress]]. Prints ONE JSON line (median + p90 seconds
  * per table over the waves).
  *
  * Usage: runMain graft.DaemonLatency [waves] [triggerSec]
  */
object DaemonLatency {

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(8)
    val trigSec = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-daemon-latency")
    spark.sparkContext.setLogLevel("ERROR")

    val runDir = s"/tmp/graft-daemon-latency-${java.lang.System.nanoTime()}"
    Files.createDirectories(Paths.get(runDir))
    val logFile = s"$runDir/maillog"
    Files.createFile(Paths.get(logFile))

    val qs = streaming.MaillogDaemon.start(spark,
      args = Array("-maillog", logFile, "-out", s"$runDir/out",
        "-checkpoint", s"$runDir/ckpt", "-year", "2024"),
      trigger = Trigger.ProcessingTime(s"$trigSec seconds"))

    // wait out cold start: every query must have completed ≥1 batch
    // before the first timed wave, or wave 1 measures JVM+stream boot
    val bootDeadline = java.lang.System.nanoTime() + 120L * 1000000000L
    while (qs.exists(_.recentProgress.isEmpty) &&
        java.lang.System.nanoTime() < bootDeadline)
      Thread.sleep(200)
    require(qs.forall(_.isActive), "a daemon query died during boot")

    val tables = Seq("logs", "clients", "messages", "deliveries")
    def landed(table: String, qid: String, wave: Int): Boolean =
      try {
        val df = spark.read.parquet(s"$runDir/out/pfmaillog2db_$table")
        val hit = table match {
          case "logs" => df.filter(col("log_message").contains(qid))
          case "clients" => df.filter(col("client").contains(s"wave$wave.example.com"))
          case "messages" => df.filter(col("message_queueid") === qid)
          case "deliveries" => df.filter(col("delivery_queueid") === qid)
        }
        hit.limit(1).count() > 0
      } catch { case _: org.apache.spark.sql.AnalysisException => false }

    val lat = tables.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    for (w <- 1 to waves) {
      val qid = f"AA$w%04dZZ"
      val ts = f"Jan 02 10:${w / 60}%02d:${w % 60}%02d"
      val lines = Seq(
        s"$ts mx9 postfix/smtpd[100]: $qid: client=wave$w.example.com[10.9.9.$w]",
        s"$ts mx9 postfix/qmgr[101]: $qid: from=<wave$w@example.com>, size=123, nrcpt=1 (queue active)",
        s"$ts mx9 postfix/cleanup[102]: $qid: message-id=<$qid@mx9>",
        s"$ts mx9 postfix/smtp[103]: $qid: to=<dest$w@example.org>, " +
          "relay=relay1.example.net[10.1.0.1]:25, delay=0.5, " +
          "delays=0.01/0.02/0.03/0.04, dsn=2.0.0, status=sent (250 ok)")
      val t0 = java.lang.System.nanoTime()
      Files.write(Paths.get(logFile),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        StandardOpenOption.APPEND)
      val pending = scala.collection.mutable.Set(tables: _*)
      val deadline = t0 + 120L * 1000000000L
      while (pending.nonEmpty && java.lang.System.nanoTime() < deadline) {
        for (t <- pending.toSeq if landed(t, qid, w))  {
          lat(t) += (java.lang.System.nanoTime() - t0) / 1e9
          pending -= t
        }
        if (pending.nonEmpty) Thread.sleep(100)
      }
      require(pending.isEmpty, s"wave $w never landed in: $pending")
      System.err.println(f"[latency] wave $w: " + tables.map(t =>
        f"$t=${lat(t).last}%.2fs").mkString(" "))
    }

    def block(f: Double) = tables.map(t =>
      f""""$t":${LatencyCard.quantile(lat(t).toSeq, f)}%.3f""").mkString("{", ",", "}")
    // "min" strips the per-wave trigger-phase alignment term — the
    // phase-robust round-over-round reading (see LatencyCard)
    val minBlock = tables.map(t =>
      f""""$t":${lat(t).min}%.3f""").mkString("{", ",", "}")
    println(s"""{"metric":"daemon_latency","trigger":"ProcessingTime(${trigSec}s)","unit":"sec","waves":$waves,"min":$minBlock,"median":${block(0.5)},"p90":${block(0.9)}}""")

    System.out.flush()
    qs.foreach(sq => try sq.stop() catch { case _: Throwable => () })
    try spark.stop() catch { case _: Throwable => () }
    Runtime.getRuntime.halt(0)
  }
}
