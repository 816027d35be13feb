package graft

import graft.operators.Pipeline
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** p29 — the all-frozen curation nightly — must equal the
  * INDEPENDENT formulation of each stage (round 17):
  *  - gate: the store's serving read (keep set);
  *  - exact screen: straight corpus-hash membership, computed
  *    WITHOUT the Bloom path (so the no-false-negative screen is
  *    cross-checked, not assumed);
  *  - near screen: the full d02_production band self-join restricted
  *    to arrival×corpus pairs (so the frozen bucket probe is
  *    cross-checked against the oracle-gated live pipeline);
  *  - pack: bin coordinates are exactly the per-source exclusive
  *    running sums of the frozen-tokenizer budgets.
  * The DuckDB hash gate pins the same composition cross-engine; this
  * spec pins it against the ENGINE'S OWN independent operators. */
class FrozenCurationSpec extends SparkSpec {

  test("p29: the composed nightly equals the independent stage algebra") {
    val docs = Tables.documents(spark, sf)
    try {
      val out = Pipeline.p29FrozenCuration(spark, sf).collect()
      assert(out.nonEmpty, "the nightly must ship survivors")
      assert(out.forall(_.getLong(0) % 10 >= 8),
        "every survivor is an arrival-slice document")

      val arrivals = docs.filter(col("doc_id") % 10 >= 8)
      // gate twin: the frozen classifier's keep set off the store
      val keep = graft.sources.ClassifierStore
        .scoreFrozen(spark, arrivals.select("doc_id", "text"), "p29_cls")
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // exact twin: direct corpus-hash membership (no Bloom involved)
      val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val exactDups = hashed.filter(col("doc_id") % 10 >= 8)
        .join(hashed.filter(col("doc_id") % 10 < 8)
          .select(col("h")).distinct(), Seq("h"), "left_semi")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // near twin: the oracle-gated live band pipeline over ALL docs,
      // restricted to pairs with one corpus and one arrival side
      val nearDups = graft.streaming.NearDupStream
        .batchCandidates(docs.select("doc_id", "text"))
        .collect().flatMap { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          if (a % 10 >= 8 && b % 10 < 8) Some(a)
          else if (b % 10 >= 8 && a % 10 < 8) Some(b)
          else None
        }.toSet
      val want = keep -- exactDups -- nearDups
      assert(out.map(_.getLong(0)).toSet == want,
        s"survivors must equal gate-keeps minus both screens " +
          s"(got ${out.length}, want ${want.size})")

      // pack twin: per source, start = bin_id·256 + bin_offset is the
      // exclusive running sum of n_tokens in doc_id order
      out.groupBy(_.getString(1)).foreach { case (src, rows) =>
        var run = 0L
        rows.sortBy(_.getLong(0)).foreach { r =>
          val start = r.getLong(4) * 256L + r.getLong(5)
          assert(start == run,
            s"source $src doc ${r.getLong(0)}: start $start != running $run")
          run += r.getLong(3)
        }
      }
      // the gate's score column is the store's exact serving score
      val scores = graft.sources.ClassifierStore
        .scoreFrozen(spark, arrivals.select("doc_id", "text"), "p29_cls")
        .select("doc_id", "score")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.forall(r => scores(r.getLong(0)) == r.getLong(2)),
        "survivor scores must equal the store's serving scores")
      // the facade serves the same nightly off the just-shipped gens
      val api = new graft.api.Graft(spark, sf)
      assert(api.frozenCurationServe().collect().map(_.toString).toSeq ==
        out.map(_.toString).toSeq, "facade serve must equal the key's rows")
      assert(api.nearMatchesAgainstFrozen(
          arrivals.select("doc_id", "text"), "p29_near")
        .select("doc_id").collect().map(_.getLong(0)).toSet == nearDups,
        "facade near probe must equal the live band self-join")
      // two re-freezes of all four artifacts retire generation 1
      Pipeline.p29Prepare(spark, sf); Pipeline.p29Prepare(spark, sf)
      Seq("p29_cls", "p29_bloom", "p29_near", "p29_tok").foreach(n =>
        assert(graft.sources.FreezeStore.listGens(spark, n) == Seq(2L, 3L), n))
    } finally {
      graft.sources.FreezeStore.dropAll(spark, "p29_cls")
      graft.sources.FreezeStore.dropAll(spark, "p29_bloom")
      graft.sources.FreezeStore.dropAll(spark, "p29_near")
      graft.sources.FreezeStore.dropAll(spark, "p29_tok")
    }
  }
}
