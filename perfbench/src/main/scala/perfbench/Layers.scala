package perfbench

/** The per-layer metrics a traced run reports, in a fixed order and
  * with their units. A traced run prints every one of them; a layer
  * the workload does not exercise reads 0. README.md says which
  * end-to-end metric each should move, and on which workload. */
object Layers {
  private val streamTables = Seq("logs", "clients", "messages", "deliveries")

  val All: Seq[(String, String)] =
    Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB") ++
    streamTables.flatMap(t => Seq(
      s"streaming.$t.batches" -> "count", s"streaming.$t.planning_ms" -> "ms",
      s"streaming.$t.add_batch_ms" -> "ms", s"streaming.$t.commit_ms" -> "ms",
      s"streaming.$t.state_rows" -> "count", s"streaming.$t.state_mb" -> "MB")) ++
    Seq(
      "streaming.tailer.mb_per_s" -> "MB/s",
      "streaming.jdbc.insert_rows_per_s" -> "rows/s",
      "streaming.jdbc.update_rows_per_s" -> "rows/s",
      "follow.generator_late_ms" -> "ms",
      "sources.maillog.parse_lines_per_s" -> "lines/s",
      "operators.maillog.clients_s" -> "s",
      "operators.maillog.messages_s" -> "s",
      "streaming.daemon.deliveries_batch_s" -> "s",
      "maillog.deliveries_duplicate_rows" -> "count",
      "sources.classifier.freeze_s" -> "s",
      "operators.dedup.bloom_ship_s" -> "s",
      "operators.dedup.near_ship_s" -> "s",
      "sources.tokenizer.freeze_s" -> "s",
      "sources.classifier.score_s" -> "s",
      "operators.dedup.bloom_screen_s" -> "s",
      "operators.dedup.near_match_s" -> "s",
      "operators.pipeline.serve_s" -> "s",
      "operators.dedup.bloom_absorb_s" -> "s",
      "operators.dedup.near_absorb_s" -> "s",
      "curation.gate_kept" -> "count",
      "curation.exact_dropped" -> "count",
      "curation.near_dropped" -> "count",
      "curation.survivors" -> "count",
      "operators.dedup.bloom_false_drop_ratio" -> "ratio",
      "sources.bm25.freeze_s" -> "s",
      "operators.similarity.ivfpq_ship_s" -> "s",
      "sources.bm25.search_s" -> "s",
      "operators.similarity.ivfpq_search_s" -> "s",
      "operators.similarity.recall_at_5" -> "ratio")

  /** Every metric of [[All]]: measured values where there are any,
    * 0 for layers this workload did not run. */
  def complete(measured: Seq[(String, (Double, String))]): Seq[(String, Double, String)] = {
    val m = measured.toMap
    val unknown = m.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.All: $unknown")
    All.map { case (n, u) =>
      m.get(n) match {
        case Some((v, mu)) =>
          require(mu == u, s"$n measured in $mu, declared in $u"); (n, v, u)
        case None => (n, 0.0, u)
      }
    }
  }
}
