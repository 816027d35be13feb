package graft.streaming

import graft.operators.Multimodal
import graft.sources.MediaIndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of the frozen media match — the production read
  * path of media dedup at scale: images ARRIVE (an ingest feed of
  * re-encoded / transcoded copies) and each micro-batch is
  * normalized, perceptually hashed and matched against the SHIPPED
  * corpus index ([[graft.sources.MediaIndexStore]]) without ever
  * touching corpus bytes — decode and hash run inside the arriving
  * partition ([[graft.operators.Multimodal.mediaHashes]], bytes
  * never shuffle), then the literal batch match algebra
  * (`matchAgainst`, one shared definition with the live
  * [[graft.operators.Multimodal.crossMatch]]) joins two longs per
  * image against the frozen band/hash tables.
  *
  * Same decision record as [[AnnStream]]: `foreachBatch`, not one
  * continuous plan — the match's candidate `distinct` and
  * multi-joins all derive from the same arriving rows (unsupported
  * shapes in append mode), and re-deriving them as explicit state
  * would fork the algebra the mm11 oracle gates. The pointer
  * resolves inside `matchFrozen`, once per micro-batch
  * ([[BatchDirs]]); MediaShipSpec pins restart-replay equality and
  * the re-freeze boundary.
  */
object MediaStream {

  /** Start the match stream: `media` is a STREAMING frame with
    * (`idCol`: long, `binCol`: binary image bytes) columns. Results:
    * the batch match's (doc_id, match_id, hamming) rows under
    * `outDir/batch=<id>/`. */
  def matchStream(media: DataFrame, name: String, outDir: String,
      checkpoint: String, tw: Int = 32, th: Int = 32,
      maxHamming: Int = 3, idCol: String = "doc_id",
      binCol: String = "media",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(media, s"media_match_$name", outDir, checkpoint,
        trigger) { batch =>
      MediaIndexStore.matchFrozen(batch.sparkSession,
        Multimodal.mediaHashes(batch, tw, th, idCol, binCol),
        name, maxHamming)
    }

  /** Streaming twin of mm12's ARRIVAL side — the continuous
    * band-occupancy counters a deployment watches between re-freezes
    * (the stream_hll/stream_cms sketch pattern): arriving hashes band
    * statelessly ([[graft.operators.Multimodal.bandRows]], the one
    * shared banding definition) into ONE streaming groupBy in
    * Complete mode — the rare unbounded-stream aggregation whose
    * state is PROVABLY bounded with no watermark: at most one row
    * per (band, 16-bit value) = 4·2¹⁶ rows ever, regardless of how
    * much media arrives. Join the emitted counters against the
    * frozen generation's own bucket table (static at freeze) for the
    * continuous mm12 drift report; re-freeze when hit_share trips.
    * Works on streaming AND batch (doc_id, h_hi, h_lo) frames —
    * MediaShipSpec pins two-checkpoint replay == mm12's batch
    * arrival buckets and the geometry bound. */
  def bandCounters(hashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    Multimodal.bandRows(hashes)
      .groupBy("band", "bandval")
      .agg(count(lit(1)).as("n"))
  }
}
