package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one per-micro-batch result sink of graft's stream twins. A twin
  * hands each trigger's arrivals (`foreachBatch`) to a literal batch
  * definition and lands that batch's rows under `outDir/batch=<id>`;
  * one `spark.read.parquet(outDir)` reads every batch back.
  *
  *  - ONE GENERATION PER BATCH: a twin that serves or grades a frozen
  *    store resolves the store's pointer inside its body, so once per
  *    micro-batch. A re-freeze concurrent with the stream lands
  *    BETWEEN batches: every result batch reads a wholly-old or a
  *    wholly-new generation, never a mix. Each batch re-binds fresh
  *    tables, so the FreezeStore retention contract applies per
  *    batch and even `retain = 1` is safe at any stream length.
  *  - EXACTLY-ONCE RESULTS: `foreachBatch` is at-least-once, and a
  *    checkpoint restart re-runs an uncommitted batch under its old
  *    id. [[save]] overwrites that id's directory, so the replay
  *    rewrites the same rows instead of duplicating them.
  *  - EMPTY BATCHES: [[start]] skips a micro-batch with no rows. It
  *    calls no body and writes no directory.
  *
  * A handler whose write needs more than this keeps its own
  * `foreachBatch` and writes through [[save]]: BloomStream's absorb
  * holds the family lease across its write, and NightlyStream has
  * its own replay rule. BatchDirsSpec pins the layout, the replay and
  * the empty-batch rule.
  */
object BatchDirs {

  /** Batch `batchId`'s directory under `outDir`. */
  private[streaming] def dir(outDir: String, batchId: Long): String =
    s"$outDir/batch=$batchId"

  /** Write `rows` as batch `batchId`'s parquet directory, replacing
    * whatever an earlier run of the same id left there. */
  def save(rows: DataFrame, outDir: String, batchId: Long): Unit =
    rows.write.mode("overwrite").format("parquet").save(dir(outDir, batchId))

  /** Start the Append query `queryName` over the streaming frame `in`:
    * every non-empty micro-batch [[save]]s `rows(batch)`. */
  def start(in: DataFrame, queryName: String, outDir: String,
      checkpoint: String, trigger: Trigger)(
      rows: DataFrame => DataFrame): StreamingQuery =
    in.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) save(rows(batch), outDir, batchId)
      }
      .start()
}
