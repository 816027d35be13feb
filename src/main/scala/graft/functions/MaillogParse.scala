package graft.functions

/** Postfix maillog field patterns. The header pattern is applied by
  * [[graft.sources.Maillog.parsed]], which also turns the header's
  * timestamp into `log_timestamp` (Postfix omits the year;
  * maillog2db.go:444 injects the current one, graft takes it as a
  * parameter for determinism). The branch patterns are applied by the
  * one projection per table in [[graft.operators.MaillogOps]] and
  * `graft.streaming.MaillogDaemon.deliveryRows`.
  *
  * The patterns re-express the reference's parse cascade
  * (/root/reference/maillog2db.go:44-59) and stay within the regex
  * subset shared by Java and RE2 so the DuckDB oracle can run the
  * identical patterns:
  *  - header  (maillog2db.go:46): timestamp, host, process, pid
  *  - smtpd   (maillog2db.go:49): queueid, client  → client split
  *    (maillog2db.go:208) into rdns + addr
  *  - smtp    (maillog2db.go:52): queueid, to, relay, delay, delays,
  *    dsn, status, statusext
  *  - qmgr    (maillog2db.go:55): queueid, from, size, nrcpt, ext
  *  - cleanup (maillog2db.go:58): queueid, message-id
  *
  * Branch regexes are mutually exclusive on well-formed Postfix
  * output, so the reference's first-match `switch` (maillog2db.go:199)
  * is equivalent to independent filters — which is what lets every
  * branch run as one parallel, shuffle-free projection.
  */
object MaillogParse {

  /** Header + remainder: groups 1-4 are the reference's entry_firstpart
    * regex verbatim; group 5 is the trimmed message remainder. */
  val HeaderRe: String =
    "^([a-zA-Z]{1,3}\\s[0-9]{2}\\s[0-9]{2}:[0-9]{2}:[0-9]{2})\\s([\\S]+)\\s([\\S]+)\\[([0-9]+)\\]:\\s?(.*)$"

  val SmtpdRe: String = "^([a-zA-Z0-9]+):\\sclient=(.*)$"
  val ClientSplitRe: String = "(.*?)\\[(.*?)\\]"
  val SmtpRe: String =
    "^([a-zA-Z0-9]+|NOQUEUE):\\sto=(.*?),\\srelay=(.*?),\\sdelay=(.*?),\\sdelays=(.*?),\\sdsn=(.*?),\\sstatus=(.*?)\\s(.*)$"
  val QmgrRe: String =
    "^([a-zA-Z0-9]+):\\sfrom=(.*?),\\ssize=([0-9]+),\\snrcpt=([0-9]+)\\s(.*)$"
  val CleanupRe: String = "^([a-zA-Z0-9]+):\\smessage-id=(.*)$"
}
