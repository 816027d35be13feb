package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans around each call the benchmark makes into a layer.
  * A span has a name, a start, an end and a parent; spans are only
  * recorded from the driver thread that runs the workload, so
  * children never overlap and a span's self time is its duration
  * minus the durations of its direct children. Disabled, `span` is a
  * plain call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Per span name: (calls, total seconds, self seconds). */
  def table: Seq[(String, Int, Double, Double)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      (n, ss.size, tot / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  def spansJson(originNs: Long): String =
    spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9)
    }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)
}

/** Spark engine counts, gathered by a listener the benchmark registers
  * itself. Events carry their own timestamps, so a timed region is
  * summed after the fact from the events whose time falls inside it
  * (the listener bus delivers asynchronously). */
final class EngineCounter extends SparkListener {
  import EngineCounter.Task
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]
  private val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(t => stages.add(t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Engine metrics over [fromMs, toMs] of wall-clock time. */
  def over(fromMs: Long, toMs: Long): Seq[(String, Double, String)] = {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.asScala.filter(t => in(t.finishMs)).toSeq
    Seq(
      ("spark.jobs", jobs.asScala.count(t => in(t)).toDouble, "count"),
      ("spark.stages", stages.asScala.count(t => in(t)).toDouble, "count"),
      ("spark.tasks", ts.size.toDouble, "count"),
      ("spark.task_cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.shuffle_write_mb", ts.map(_.shuffleWrite).sum / 1e6, "MB"),
      ("spark.spill_mb", ts.map(_.spill).sum / 1e6, "MB"))
  }
}

object EngineCounter {
  private final case class Task(finishMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)
}

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
