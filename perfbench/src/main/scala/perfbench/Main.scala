package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Benchmark entry point, started by run.py as its own JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --out DIR --t0-ms EPOCH_MS [--size full|smoke]
  *                  [--cores N]
  *
  * One process, one Spark session. The last line of standard output
  * is `PERFBENCH_RESULT {json}`; run.py turns it into the result line.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, out: String = "perfbench/out",
                        t0Ms: Long = System.currentTimeMillis(), smoke: Boolean = false,
                        cores: Int = math.min(2, Runtime.getRuntime.availableProcessors()))

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--t0-ms" :: v :: t => parse(t, a.copy(t0Ms = v.toLong))
    case "--size" :: v :: t => parse(t, a.copy(smoke = v == "smoke"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "maillog_backfill" -> MaillogBench.backfill,
    "maillog_follow" -> MaillogBench.follow,
    "curation_nightly" -> CurationBench.run,
    "retrieval_serve" -> RetrievalBench.run)

  def session(a: Args, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exits 0 after printing the result, 1 on any failure: the
    * session's non-daemon threads must not keep a failed run alive. */
  def main(argv: Array[String]): Unit = {
    try run(parse(argv.toList))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(a: Args): Unit = {
    val work = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${a.workload}' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val runDir = new File(s"${a.out}/run-${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
      .getAbsolutePath
    Files.createDirectories(Paths.get(runDir))
    // the session starts while the workload generates its inputs
    val engine = if (a.trace) Some(new EngineCounter) else None
    val starting = Future {
      val s = session(a, runDir)
      engine.foreach(s.sparkContext.addSparkListener)
      s
    }(ExecutionContext.global)
    val ctx = new Ctx({
      val s = Await.result(starting, Duration.Inf)
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - a.t0Ms) / 1000.0}%7.2f s  session up")
      s
    }, a, runDir, new Tracer(a.trace), engine)
    val o = work(ctx)
    ctx.note("workload done")
    val spark = ctx.spark
    if (o.problems.nonEmpty)
      o.problems.take(20).foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    ctx.engineCounts()
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) Layers.complete(ctx.layers.toSeq)
      else ("setup_s", ctx.setupSeconds, "s") +: o.e2e
    val artifacts = ctx.writeArtifacts(o)
    val result = Json.obj(
      "correct" -> o.problems.isEmpty,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    artifacts.foreach(p => System.err.println(s"[perfbench] wrote $p"))
    spark.streams.active.foreach(_.stop())
    spark.stop()
    Dirs.deleteTree(new File(runDir))
    ctx.note("session stopped")
    println("PERFBENCH_RESULT " + result)
    System.out.flush()
  }
}

/** What a workload reports: the check verdicts, its operation counts
  * and its end-to-end metrics (setup_s is added by Main). */
final case class Outcome(problems: Seq[String], attempted: Long, failed: Long,
                         e2e: Seq[(String, Double, String)],
                         notes: Seq[(String, Any)] = Nil)

/** Per-run state shared by a workload: session, tracer, per-layer
  * metrics and the set-up clock. */
final class Ctx(startSpark: => SparkSession, val a: Main.Args, val runDir: String,
                val tracer: Tracer, val engine: Option[EngineCounter]) {
  /** The session; the first use waits for it to be up. */
  lazy val spark: SparkSession = startSpark
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var timedFromMs = -1L
  private var timedToMs = -1L
  private val originNs = System.nanoTime()

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  /** Marks the start of the first timed operation: set-up ends here. */
  def startTimed(): Unit = if (timedFromMs < 0) timedFromMs = System.currentTimeMillis()
  def endTimed(): Unit = timedToMs = System.currentTimeMillis()
  def setupSeconds: Double = (timedFromMs - a.t0Ms) / 1000.0
  def timedSeconds: Double = (timedToMs - timedFromMs) / 1000.0

  /** Absolute deadline of the measuring phase, from its start. */
  def deadlineNs(startNs: Long): Long = startNs + a.seconds * 1000000000L

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Progress note on standard error, stamped with seconds since t0. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - a.t0Ms) / 1000.0}%7.2f s  $msg")

  /** In a traced run: the engine counts of the timed region. */
  def engineCounts(): Unit = engine.foreach { e =>
    Thread.sleep(500) // let the listener bus drain
    e.over(timedFromMs, timedToMs).foreach { case (n, v, u) => layer(n, v, u) }
  }

  /** In a traced run: the span table and the per-layer table as JSON
    * artifacts. */
  def writeArtifacts(o: Outcome): Seq[String] = if (!a.trace) Nil else {
    val dir = Paths.get(a.out, "artifacts")
    Files.createDirectories(dir)
    val stem = s"${a.workload}-seed${a.seed}"
    val spans = dir.resolve(s"$stem-spans.json")
    Files.write(spans, tracer.spansJson(originNs).getBytes("UTF-8"))
    val table = dir.resolve(s"$stem-layers.json")
    Files.write(table, Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "setup_s" -> setupSeconds, "timed_s" -> timedSeconds,
      "end_to_end" -> mutable.LinkedHashMap(o.e2e.map { case (n, v, _) => n -> v }: _*),
      "attempted" -> o.attempted, "failed" -> o.failed, "problems" -> o.problems,
      "notes" -> mutable.LinkedHashMap(o.notes: _*),
      "per_layer" -> mutable.LinkedHashMap(Layers.complete(layers.toSeq).map {
        case (n, v, u) => n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
      "spans" -> tracer.table.map { case (n, c, tot, self) =>
        mutable.LinkedHashMap("name" -> n, "calls" -> c, "total_s" -> tot, "self_s" -> self) }
    ).getBytes("UTF-8"))
    Seq(spans.toString, table.toString)
  }
}

object Dirs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Small numeric helpers. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9
  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime(); val r = body; (r, secondsSince(t))
  }
}
