package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import scala.collection.mutable
import scala.util.Random

/** Seeded Postfix maillog generator that also keeps the answer.
  *
  * Every line is built from a structured record, and the record — not
  * a regex over the rendered text — says what the line contributes to
  * the four reference tables (PAPER.md §1): a `logs` row for every
  * line (distinct on the full tuple), a `clients` upsert keyed by
  * (client, rdns, addr) keeping the latest lastseen, a last-non-null
  * merge into `messages` by queue id, and a `deliveries` row (distinct
  * on the full tuple).
  */
object MaillogGen {
  val Year = 2024
  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  type LogKey = (Long, String, String, String, String)
  type ClientKey = (String, String, String)

  final case class Delivery(ts: Long, qid: String, to: String, relay: String, delay: String,
                            delays: String, dsn: String, status: String, ext: String)

  /** A `messages` row under the merge semantics. */
  final case class Message(ts: Option[Long] = None, host: Option[String] = None,
                           from: Option[String] = None, size: Option[Long] = None,
                           nrcpt: Option[Int] = None, statusext: Option[String] = None,
                           client: Option[String] = None, messageId: Option[String] = None,
                           nLines: Long = 0L)

  sealed trait Effect
  case object Unmatched extends Effect
  final case class Client(qid: String, rdns: String, addr: String) extends Effect {
    def client: String = s"$rdns[$addr]"
  }
  final case class Cleanup(qid: String, messageId: String) extends Effect
  final case class Qmgr(qid: String, from: String, size: Long, nrcpt: Int, ext: String) extends Effect
  final case class Smtp(d: Delivery) extends Effect

  /** One line. `padded` renders days 1–9 in the RFC 3164 space-padded
    * form (`Oct  9`) that real syslog writes. */
  final case class Line(tsMs: Long, host: String, process: String, pid: String,
                        message: String, effect: Effect, padded: Boolean = false) {
    def stamp: String = {
      val t = LocalDateTime.ofEpochSecond(tsMs / 1000, 0, ZoneOffset.UTC)
      val day = if (padded) f"${t.getDayOfMonth}%2d" else f"${t.getDayOfMonth}%02d"
      f"${Months(t.getMonthValue - 1)} $day ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    }
    def render: String = s"$stamp $host $process[$pid]: $message"
    def logKey: LogKey = (tsMs, host, process, pid, message)
  }

  /** The four tables the lines must produce. */
  final class Truth {
    val logs = mutable.HashSet.empty[LogKey]
    val clients = mutable.HashMap.empty[ClientKey, (Long, Long)]
    val messages = mutable.HashMap.empty[String, Message]
    val deliveries = mutable.HashSet.empty[Delivery]

    private def merge(qid: String)(f: Message => Message): Unit =
      messages(qid) = f(messages.getOrElse(qid, Message()))

    def add(l: Line): Unit = {
      logs += l.logKey
      l.effect match {
        case Unmatched => ()
        case c: Client =>
          val k = (c.client, c.rdns, c.addr)
          val (seen, n) = clients.getOrElse(k, (Long.MinValue, 0L))
          clients(k) = (math.max(seen, l.tsMs), n + 1)
          merge(c.qid)(m => m.copy(client = Some(c.client), nLines = m.nLines + 1))
        case c: Cleanup =>
          merge(c.qid)(m => m.copy(messageId = Some(c.messageId), nLines = m.nLines + 1))
        case q: Qmgr =>
          merge(q.qid)(m => m.copy(ts = Some(l.tsMs), host = Some(l.host), from = Some(q.from),
            size = Some(q.size), nrcpt = Some(q.nrcpt), statusext = Some(q.ext),
            nLines = m.nLines + 1))
        case s: Smtp => deliveries += s.d
      }
    }
  }

  def epochMs(month: Int, day: Int, secOfDay: Int): Long =
    (LocalDateTime.of(Year, month, day, 0, 0).toEpochSecond(ZoneOffset.UTC) + secOfDay) * 1000L

  /** Stateful line factory over one random stream. Queue ids are unique
    * across every generator sharing `usedQids`. */
  final class Factory(rng: Random, usedQids: mutable.HashSet[String], qidLen: Int,
                      clientPool: Int, clientTag: String, addrNet: Int) {
    private val hosts = Array("mx1", "mx2", "mx3")
    private val domains = Array("example.com", "example.org", "example.net", "mail.test", "corp.test")
    private def hex(n: Int): String = {
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb.append("0123456789ABCDEF".charAt(rng.nextInt(16))))
      sb.toString
    }
    private def qid(): String = {
      var q = hex(qidLen)
      while (usedQids.contains(q)) q = hex(qidLen)
      usedQids += q
      q
    }
    private val clients: Array[(String, String)] = Array.tabulate(clientPool) { i =>
      val rdns = if (i % 11 == 0) "unknown" else s"$clientTag-${i}.${domains(i % domains.length)}"
      (rdns, s"$addrNet.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}")
    }
    private def user(): String = s"u${rng.nextInt(5000)}@${domains(rng.nextInt(domains.length))}"
    private val pidFor = mutable.HashMap.empty[(String, String), String]
    private def pid(host: String, proc: String): String =
      pidFor.getOrElseUpdate((host, proc), (1000 + rng.nextInt(90000)).toString)

    private def line(ts: Long, host: String, proc: String, msg: String, e: Effect) =
      Line(ts, host, s"postfix/$proc", pid(host, proc), msg, e)

    /** The lines of one message starting at `t0` (epoch ms), spaced
      * `stepMs` apart: smtpd client, cleanup, qmgr, one or two smtp
      * deliveries, and the unmatched qmgr `removed`. */
    def message(t0: Long, stepMs: Long): Seq[Line] = {
      val q = qid()
      val host = hosts(rng.nextInt(hosts.length))
      val (rdns, addr) = clients(rng.nextInt(clients.length))
      val nrcpt = 1 + (if (rng.nextInt(4) == 0) 1 else 0)
      val size = 500L + rng.nextInt(200000)
      val from = s"<${user()}>"
      def at(i: Int) = t0 + i * stepMs
      val messageId = s"<${hex(16).toLowerCase}@${domains(rng.nextInt(domains.length))}>"
      val head = Seq(
        line(at(0), host, "smtpd", s"$q: client=$rdns[$addr]", Client(q, rdns, addr)),
        line(at(1), host, "cleanup", s"$q: message-id=$messageId", Cleanup(q, messageId)),
        line(at(2), host, "qmgr", s"$q: from=$from, size=$size, nrcpt=$nrcpt (queue active)",
          Qmgr(q, from, size, nrcpt, "(queue active)")))
      val dels = (0 until nrcpt).map { r =>
        val ts = at(3 + r)
        val to = s"<${user()}>"
        val relayHost = s"relay${rng.nextInt(20)}.${domains(rng.nextInt(domains.length))}"
        val relay = s"$relayHost[192.0.2.${rng.nextInt(250)}]:25"
        val delay = f"${rng.nextInt(3000) / 100.0}%.2f"
        val delays = f"${rng.nextInt(100) / 100.0}%.2f/0.0${rng.nextInt(10)}/0.${rng.nextInt(10)}/${rng.nextInt(300) / 100.0}%.2f"
        val (dsn, status, ext) = rng.nextInt(20) match {
          case 0 => ("4.4.1", "deferred", s"(connect to $relay: Connection timed out)")
          case 1 => ("5.1.1", "bounced", s"(host $relayHost said: 550 5.1.1 $to: Recipient address rejected (in reply to RCPT TO command))")
          case _ => ("2.0.0", "sent", s"(250 2.0.0 Ok: queued as ${hex(10)})")
        }
        val d = Delivery(ts, q, to, relay, delay, delays, dsn, status, ext)
        line(ts, host, "smtp",
          s"$q: to=$to, relay=$relay, delay=$delay, delays=$delays, dsn=$dsn, status=$status ${ext}", Smtp(d))
      }
      val removed = line(at(3 + nrcpt), host, "qmgr", s"$q: removed", Unmatched)
      head ++ dels :+ removed
    }

    /** One line that no branch of the parse cascade matches. */
    def noise(ts: Long): Line = {
      val host = hosts(rng.nextInt(hosts.length))
      val (rdns, addr) = clients(rng.nextInt(clients.length))
      rng.nextInt(4) match {
        case 0 => line(ts, host, "smtpd",
          s"warning: hostname $rdns does not resolve to address $addr: Name or service not known", Unmatched)
        case 1 => line(ts, host, "smtpd",
          s"NOQUEUE: reject: RCPT from unknown[$addr]: 554 5.7.1 <${user()}>: Relay access denied; " +
            s"from=<${user()}> to=<${user()}> proto=ESMTP helo=<$rdns>", Unmatched)
        case 2 => line(ts, host, "smtpd", s"connect from $rdns[$addr]", Unmatched)
        case _ => line(ts, host, "smtpd", s"disconnect from $rdns[$addr] ehlo=1 mail=1 rcpt=1 data=1 quit=1 commands=5", Unmatched)
      }
    }
  }

  /** Lines of one day (messages starting between `fromSec` and
    * `untilSec`), exactly `n` of them in time order: messages,
    * unmatched lines (one event in eight, plus each message's qmgr
    * `removed`) and exact duplicate lines (one event in 50). */
  def day(f: Factory, rng: Random, month: Int, dayOfMonth: Int, n: Int, padded: Boolean,
          fromSec: Int = 0, untilSec: Int = 86300): Seq[Line] = {
    val out = mutable.ArrayBuffer.empty[Line]
    while (out.size < n + n / 20) {
      val t0 = epochMs(month, dayOfMonth, fromSec + rng.nextInt(untilSec - fromSec))
      val event = if (rng.nextInt(8) == 0) Seq(f.noise(t0)) else f.message(t0, 1000L)
      out ++= event
      // one event in 50 repeats one of its lines exactly
      if (rng.nextInt(50) == 0) out += event(rng.nextInt(event.size))
    }
    out.sortBy(_.tsMs).take(n).map(_.copy(padded = padded)).toSeq
  }
}
