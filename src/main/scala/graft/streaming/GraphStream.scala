package graft.streaming

import graft.sources.GraphIndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twins of the FROZEN graph edge index's read and monitor
  * paths — the fourth family's members of the per-family streaming
  * lattice (dense: [[AnnStream]]; media: [[MediaStream]]; sparse
  * text: [[Bm25Stream]]).
  *
  * [[TriStream]] already streams the corpus-closing probe against an
  * IN-MEMORY edge frame bound once at stream start (a stateless
  * stream-static join — the plan the optimizer handles alone). These
  * twins read the SHIPPED index instead, through [[BatchDirs]]: the
  * pointer re-binds per micro-batch, so a mid-stream
  * [[GraphIndexStore.refreezeIfStale]] lands between batches. A
  * stream-static join against `spark.table(...)` would pin the
  * stream to the generation alive at planning and die with its
  * retention window.
  */
object GraphStream {

  /** Per micro-batch: triangles the arriving (x < y)-canonical edges
    * close against the LIVE frozen generation (the literal
    * [[graft.operators.Graph.closedByCorpus]] algebra via
    * [[GraphIndexStore.closedFrozen]]). Probe edges must not already
    * be corpus edges (the closedByCorpus contract — dedup upstream,
    * as g04's increment does). */
  def probeStream(edgeStream: DataFrame, name: String, outDir: String,
                  checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(edgeStream, s"graph_probe_$name", outDir, checkpoint,
        trigger) { batch =>
      GraphIndexStore.closedFrozen(batch.sparkSession,
        batch.select("x", "y"), name)
    }

  /** Per micro-batch: the g05 banded degree-drift rows of the
    * arriving edges against the LIVE frozen generation
    * ([[GraphIndexStore.staleness]] — one definition with the live
    * key). A deployment tails the band −1 rows (unseen-endpoint
    * mass) and calls [[GraphIndexStore.refreezeIfStale]] when the
    * share trips. */
  def driftStream(edgeStream: DataFrame, name: String, outDir: String,
                  checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(edgeStream, s"graph_drift_$name", outDir, checkpoint,
        trigger) { batch =>
      GraphIndexStore.staleness(batch.sparkSession,
        batch.select("x", "y"), name)
    }

  /** Per micro-batch: the g09 community-bridge bands of the arriving
    * weighted (x, y, w) pairs against the LIVE frozen community
    * labels ([[GraphIndexStore.communityBridges]] — the literal
    * bridgeBands algebra, one definition with the live key). A
    * deployment tails the bridge/novel mass and calls
    * [[GraphIndexStore.refreezeCommunitiesIfStale]] when the
    * non-intra share trips (round 15). */
  def bridgesStream(pairStream: DataFrame, name: String, outDir: String,
                    checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchDirs.start(pairStream, s"graph_bridges_$name", outDir,
        checkpoint, trigger) { batch =>
      GraphIndexStore.communityBridges(batch.sparkSession,
        batch.select("x", "y", "w"), name)
    }
}
