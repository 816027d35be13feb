package graft

import graft.streaming.MaillogDaemon
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.streaming.Trigger

/** A hand-written maillog with its clients, messages and deliveries
  * rows written out by hand too, not derived from the engine's
  * regexes: the batch replay (`Graft.maillogTables`) and one daemon
  * run must each produce exactly these rows. The fixture holds every
  * branch (smtpd, cleanup, qmgr, smtp), a `NOQUEUE` delivery, lines
  * no branch claims, a line without a syslog header, an exact
  * duplicate smtpd line and two queue ids merged across branches.
  * Timestamps read as UTC instants; messages compare on the daemon's
  * `n_lines` (the batch's per-branch counts summed). */
class MaillogFixtureSpec extends SparkSpec {

  private val lines = Seq(
    "Mar 05 10:00:01 mx1 postfix/smtpd[201]: 4A1B2C: client=mail.alpha.example[192.0.2.10]",
    "Mar 05 10:00:02 mx1 postfix/cleanup[202]: 4A1B2C: message-id=<m1@alpha.example>",
    "Mar 05 10:00:03 mx1 postfix/qmgr[203]: 4A1B2C: from=<alice@alpha.example>, size=1200, nrcpt=2 (queue active)",
    "Mar 05 10:00:04 mx1 postfix/smtp[204]: 4A1B2C: to=<bob@beta.example>, relay=mx.beta.example[198.51.100.5]:25, delay=1.2, delays=0.1/0.2/0.3/0.6, dsn=2.0.0, status=sent (250 2.0.0 Ok: queued as 9F9F9F)",
    "Mar 05 10:00:05 mx1 postfix/smtp[204]: 4A1B2C: to=<carol@gamma.example>, relay=mx.gamma.example[203.0.113.7]:25, delay=2.5, delays=0.1/0.2/1.0/1.2, dsn=4.4.1, status=deferred (connect timed out)",
    "Mar 05 10:00:06 mx1 postfix/qmgr[203]: 4A1B2C: removed",
    "Mar 05 10:01:00 mx2 postfix/smtpd[301]: 7D8E9F: client=unknown[198.51.100.77]",
    "Mar 05 10:01:00 mx2 postfix/smtpd[301]: 7D8E9F: client=unknown[198.51.100.77]",
    "Mar 05 10:01:01 mx2 postfix/cleanup[302]: 7D8E9F: message-id=<m2@delta.example>",
    "Mar 05 10:01:02 mx2 postfix/qmgr[303]: 7D8E9F: from=<dave@delta.example>, size=800, nrcpt=1 (queue active)",
    "Mar 05 10:02:00 mx2 postfix/qmgr[303]: 7D8E9F: from=<dave@delta.example>, size=950, nrcpt=1 (queue active)",
    "Mar 05 10:02:01 mx2 postfix/smtp[304]: 7D8E9F: to=<frank@zeta.example>, relay=mx.zeta.example[192.0.2.99]:25, delay=59, delays=58/0.1/0.4/0.5, dsn=2.0.0, status=sent (250 ok)",
    "Mar 05 10:03:00 mx1 postfix/smtp[205]: NOQUEUE: to=<eve@epsilon.example>, relay=none, delay=0.01, delays=0/0/0/0.01, dsn=5.1.2, status=bounced (Host or domain name not found)",
    "Mar 05 10:04:00 mx1 postfix/smtpd[201]: B0C1D2: client=mail.alpha.example[192.0.2.10]",
    "last message repeated 3 times",
    "Mar 05 10:05:00 mx1 postfix/anvil[206]: statistics: max connection rate 1/60s for (smtp:192.0.2.10)")

  private case class Tables(clients: Set[Seq[Any]], messages: Set[Seq[Any]],
                            deliveries: Seq[Seq[Any]])

  private val Alpha = Seq("mail.alpha.example[192.0.2.10]", "mail.alpha.example", "192.0.2.10")
  private val Unknown = Seq("unknown[198.51.100.77]", "unknown", "198.51.100.77")

  private val expected = Tables(
    clients = Set(
      Alpha ++ Seq("2024-03-05T10:04:00Z", 2L),
      Unknown ++ Seq("2024-03-05T10:01:00Z", 2L)),
    messages = Set(
      Seq("4A1B2C", "2024-03-05T10:00:03Z", "mx1", "<alice@alpha.example>", 1200L, 2,
        "(queue active)", "mail.alpha.example[192.0.2.10]", "<m1@alpha.example>", 3L),
      Seq("7D8E9F", "2024-03-05T10:02:00Z", "mx2", "<dave@delta.example>", 950L, 1,
        "(queue active)", "unknown[198.51.100.77]", "<m2@delta.example>", 5L),
      Seq("B0C1D2", null, null, null, null, null,
        null, "mail.alpha.example[192.0.2.10]", null, 1L)),
    deliveries = sorted(Seq(
      Seq("2024-03-05T10:00:04Z", "4A1B2C", "<bob@beta.example>",
        "mx.beta.example[198.51.100.5]:25", "1.2", "0.1/0.2/0.3/0.6", "2.0.0", "sent",
        "(250 2.0.0 Ok: queued as 9F9F9F)"),
      Seq("2024-03-05T10:00:05Z", "4A1B2C", "<carol@gamma.example>",
        "mx.gamma.example[203.0.113.7]:25", "2.5", "0.1/0.2/1.0/1.2", "4.4.1", "deferred",
        "(connect timed out)"),
      Seq("2024-03-05T10:02:01Z", "7D8E9F", "<frank@zeta.example>",
        "mx.zeta.example[192.0.2.99]:25", "59", "58/0.1/0.4/0.5", "2.0.0", "sent",
        "(250 ok)"),
      Seq("2024-03-05T10:03:00Z", "NOQUEUE", "<eve@epsilon.example>",
        "none", "0.01", "0/0/0/0.01", "5.1.2", "bounced",
        "(Host or domain name not found)"))))

  private val ClientCols = Seq("client", "client_rdns", "client_addr", "client_lastseen", "n_seen")
  private val MessageCols = Seq("message_queueid", "message_timestamp", "message_mailhost",
    "message_from", "message_size", "message_nrcpt", "message_statusext",
    "message_client", "message_id", "n_lines")
  private val DeliveryCols = Seq("delivery_timestamp", "delivery_queueid", "delivery_to",
    "delivery_relay", "delivery_delay", "delivery_delays", "delivery_dsn",
    "delivery_status", "delivery_statusext")

  private def sorted(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.sortBy(_.mkString("\u0001"))

  private def cells(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.toInstant.toString
      case v => v
    })

  /** The newest row per key of an Update-mode parquet table: what an
    * upsert sink holds after the run. */
  private def latest(df: DataFrame, keys: Seq[String], newest: String): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(newest).desc)))
      .filter(col("rn") === 1)

  /** The three tables of `input`, from the batch replay and from one
    * `AvailableNow` daemon run into parquet. */
  private def batchAndDaemon(input: Seq[String]): (Tables, Tables) = {
    val dir = Files.createTempDirectory("maillog-fixture")
    Files.write(dir.resolve("maillog"), input.mkString("\n").getBytes)

    val t = new graft.api.Graft(spark, sf).maillogTables(dir.toString, year = 2024)
    val batch = Tables(
      cells(t("clients"), ClientCols).toSet,
      cells(t("messages").withColumn("n_lines",
        col("n_qmgr") + col("n_smtpd") + col("n_cleanup")), MessageCols).toSet,
      sorted(cells(t("deliveries"), DeliveryCols)))

    val root = Files.createTempDirectory("maillog-fixture-daemon")
    MaillogDaemon.start(spark,
      args = Array("-maillog", dir.toString, "-out", s"$root/out",
        "-checkpoint", s"$root/ckpt", "-year", "2024"),
      trigger = Trigger.AvailableNow()).foreach(_.awaitTermination())
    def table(name: String) = spark.read.parquet(s"$root/out/pfmaillog2db_$name")
    val daemon = Tables(
      cells(latest(table("clients"), ClientCols.take(3), "n_seen"), ClientCols).toSet,
      cells(latest(table("messages"), Seq("message_queueid"), "n_lines"), MessageCols).toSet,
      sorted(cells(table("deliveries"), DeliveryCols)))
    (batch, daemon)
  }

  test("batch replay and daemon both write the hand-written clients, messages and deliveries") {
    val (batch, daemon) = batchAndDaemon(lines)
    assert(batch == expected)
    assert(daemon == expected)
  }

  // Known defects, kept in the data: each block is reported pending
  // while its defect stands, and fails once a fix makes it pass.

  test("a space-padded syslog day (RFC 3164 'Mar  9') reaches clients and messages") {
    val padded = "Mar  9 08:00:00 mx3 postfix/smtpd[401]: E5F6A7: client=pad.example[192.0.2.50]"
    val withPadded = expected.copy(
      clients = expected.clients +
        Seq("pad.example[192.0.2.50]", "pad.example", "192.0.2.50", "2024-03-09T08:00:00Z", 1L),
      messages = expected.messages +
        Seq("E5F6A7", null, null, null, null, null, null, "pad.example[192.0.2.50]", null, 1L))
    pendingUntilFixed {
      val (batch, daemon) = batchAndDaemon(lines :+ padded)
      assert(batch == withPadded)
      assert(daemon == withPadded)
    }
  }

  test("an exact duplicate delivery line lands once in the daemon's parquet deliveries") {
    val duplicate = lines(3)
    pendingUntilFixed {
      val (batch, daemon) = batchAndDaemon(lines :+ duplicate)
      assert(batch == expected)
      assert(daemon == expected)
    }
  }
}
