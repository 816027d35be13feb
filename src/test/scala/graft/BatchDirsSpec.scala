package graft

import graft.streaming.BatchDirs
import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The per-batch result sink every stream twin shares: the
  * `batch=<id>` layout, replay on restart and the empty-batch rule,
  * pinned once on a MemoryStream. */
class BatchDirsSpec extends SparkSpec {
  import spark.implicits._

  test("batch=<id> per micro-batch; an empty batch writes nothing; a replay rewrites") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("batchdirs").toString
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    val in = MemoryStream[Int]
    val calls = new AtomicInteger()
    def start() =
      BatchDirs.start(in.toDF().filter(col("value") > 0), "batch_dirs_spec",
          out, ckpt, Trigger.ProcessingTime(0L)) { batch =>
        calls.incrementAndGet()
        batch.select((col("value") * 10).as("v"))
      }
    def dirs() = new File(out).list().filter(_.startsWith("batch=")).sorted.toSeq
    def rows() = spark.read.parquet(out).select("v").as[Int].collect().sorted.toSeq

    val q = start()
    in.addData(1, 2)
    q.processAllAvailable()
    // every arrival filtered away: batch 1 runs with no rows
    in.addData(-1)
    q.processAllAvailable()
    in.addData(3)
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.map(_.batchId).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    assert(calls.get == 2, "the empty batch must not call the body")
    assert(dirs() == Seq("batch=0", "batch=2"),
      "the empty batch must not write a directory")
    assert(rows() == Seq(10, 20, 30))

    // uncommit batch 2: the restart on the same checkpoint re-runs it
    // under its old id
    new File(s"$ckpt/commits").listFiles()
      .filter(f => f.getName == "2" || f.getName == ".2.crc").foreach(_.delete())
    val replay = start()
    replay.processAllAvailable()
    replay.stop()
    assert(calls.get == 3, "batch 2 must be replayed")
    assert(dirs() == Seq("batch=0", "batch=2"))
    assert(rows() == Seq(10, 20, 30), "a replay rewrites its batch, never duplicates")
  }
}
