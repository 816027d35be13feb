package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** THE NIGHTLY LOOP AS A CONTINUOUS STREAM (round 18 — the streaming
  * twin of [[graft.operators.Pipeline.p30NightlyAbsorb]]'s two-night
  * composition, run per micro-batch forever): each arriving
  * (doc_id, source, text) batch SERVES through the all-frozen p29
  * path against the LIVE generation, its packed survivors land under
  * the batch id, and the survivors then ABSORB into the two
  * mergeable stores — so batch N+1's screens drop replays and
  * near-dups of batch N's admissions.
  *
  * EXACTLY-ONCE ADMISSION under at-least-once foreachBatch: the
  * per-batch-id overwrite sink the other twins use
  * ([[BatchDirs.start]]) is NOT enough here, because a replayed
  * batch's recomputed serve would run against a store that already
  * admitted the batch — its own hashes would screen it, the
  * recompute would emit ZERO survivors, and the "idempotent"
  * overwrite would destroy the correct rows. The committed pack is
  * therefore the CANONICAL survivor set: on
  * replay (the batch directory's _SUCCESS marker exists) the handler
  * skips the serve entirely, re-derives the survivors from the
  * written rows, and re-runs only the absorb (which no-ops at the
  * membership anti-joins). A crash between write and absorb recovers
  * on the same path; a crash mid-write (no marker) recomputes
  * against a store the absorb never touched, which is exactly the
  * original serve. NightlyAbsorbSpec pins all three legs.
  *
  * Contract scope (round-18 self-review): the guarantee is per
  * (checkpoint, outDir, store family) TRIPLE — the checkpoint is the
  * batch-id authority, so restarting on the SAME checkpoint (or a
  * fresh one over the SAME input set, which re-derives the same
  * ids — the spec's replay leg) is exactly-once, but discarding the
  * checkpoint after the input set drifted re-maps batch ids onto
  * committed directories of DIFFERENT content: already-served docs
  * still cannot double-admit (the absorb's membership anti-joins),
  * but a new doc that lands in a re-mapped, already-committed id is
  * skipped rather than served. Run ONE nightly stream per family;
  * concurrent streams on one outDir are outside the contract. */
object NightlyStream {

  private def committed(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def nightlyStream(docStream: DataFrame, ns: String, outDir: String,
      checkpoint: String, contextLen: Long = 256L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docStream.writeStream
      .queryName(s"nightly_$ns")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val dir = BatchDirs.dir(outDir, batchId)
        def absorbWritten(): Unit = {
          val sIds = spark.read.parquet(dir).select("doc_id")
          graft.operators.Pipeline.p29Absorb(spark,
            batch.select("doc_id", "text").join(sIds, "doc_id"), ns)
          ()
        }
        if (committed(spark, dir)) absorbWritten()
        else if (!batch.isEmpty) {
          BatchDirs.save(graft.operators.Pipeline
            .p29ServeBatch(spark, batch, contextLen, ns), outDir, batchId)
          absorbWritten()
        }
      }
      .start()
}
