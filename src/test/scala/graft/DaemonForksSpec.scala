package graft

import graft.streaming.MaillogDaemon
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** A daemon run forks no `chmod` or `readlink`: every checkpoint,
  * state-store and sink file goes through the fork-free local
  * filesystem, also on a session that did not install it. Every process
  * the JVM starts during the run is recorded in-process with JFR. */
class DaemonForksSpec extends SparkSpec {

  test("an AvailableNow daemon run starts no chmod or readlink process") {
    val dir = Files.createTempDirectory("maillog")
    val out = Files.createTempDirectory("out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    Files.write(dir.resolve("maillog"), Seq(
      "Jan 02 03:04:05 mx1 postfix/smtpd[101]: AB1: client=host1.example.com[10.0.0.1]",
      "Jan 02 03:04:06 mx1 postfix/qmgr[102]: AB1: from=<a@example.com>, size=100, nrcpt=1 (queue active)",
      "Jan 02 03:04:07 mx1 postfix/smtp[103]: AB1: to=<b@example.org>, relay=r.example.net[10.1.0.1]:25, " +
        "delay=1.5, delays=0.1/0.2/0.3/0.4, dsn=2.0.0, status=sent (250 ok)"
    ).mkString("\n").getBytes)
    // a caller-built session: the daemon must install the filesystem
    // itself, over a FileSystem cache that already holds Hadoop's
    Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
      .foreach(spark.conf.unset)
    spark.range(1).write.mode("overwrite").parquet(Files.createTempDirectory("warm").resolve("t").toString)

    val started = new ConcurrentLinkedQueue[String]()
    val rec = new RecordingStream()
    try {
      rec.enable("jdk.ProcessStart")
      rec.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
      rec.startAsync()
      val qs = MaillogDaemon.start(spark,
        args = Array("-maillog", dir.toString, "-out", out, "-checkpoint", ckpt, "-year", "2024"),
        trigger = Trigger.AvailableNow())
      qs.foreach(_.awaitTermination())
      assert(spark.read.parquet(s"$out/pfmaillog2db_deliveries").count() === 1)
      // JFR delivers events in flush order: once a marker process started
      // after the run is seen, every process of the run has been seen
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000
      while (!started.asScala.exists(_ == "true") && System.nanoTime() < deadline) Thread.sleep(100)
    } finally rec.close()

    val commands = started.asScala.toSeq
    assert(commands.contains("true"), "the recording sees process starts")
    val program = commands.map(_.split(' ').head.split('/').last)
    assert(!program.exists(Set("chmod", "readlink")),
      s"forked during the run: ${program.groupBy(identity).map { case (p, n) => s"$p×${n.size}" }.mkString(", ")}")
  }
}
