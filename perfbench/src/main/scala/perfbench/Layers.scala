package perfbench

import Main.{UnitRec, median}

/** The per-layer metrics of the traced run, by name and unit. Every traced
  * run prints all of them; a layer the workload does not reach reads 0. */
object Layers {

  val DailyStages: Seq[String] = Seq("master_sync", "nav_sync", "history_sync",
    "dividend_sync", "detail_sync", "holdings_sync", "allocations_sync")
  val CorpusStages: Seq[String] = Seq("clean", "quality", "ppl_gate",
    "exact_dedup", "near_dedup", "span_rewrite", "decontaminate", "mixture",
    "pack", "shard")
  val TargetQueries: Seq[String] = Seq("q24_hash_md5", "q25_hash_sha2",
    "q53_dedup_clusters", "q54_corpus_filter", "q110_dedup_keep_best",
    "q114_trigram_perplexity", "q39_dedup_jaccard", "q48_salted_join",
    "q50_eav_pivot", "q97_bpe_pack_ids")
  val RoundQueries: Seq[String] = Seq("q53_dedup_clusters", "q54_corpus_filter",
    "q110_dedup_keep_best")

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Name and unit of every per-layer metric, in print order. */
  val Names: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.driver_idle_s" -> "s", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes") ++
    (DailyStages ++ CorpusStages).map(s => s"pipeline.stage_s.$s" -> "s") ++
    Seq("sources.scan_s" -> "s", "sources.files" -> "count", "sources.rows" -> "count",
      "stages.prepare_self_s" -> "s", "stages.rows_dropped" -> "count",
      "merge.jobs" -> "count", "merge.wall_s" -> "s",
      "merge.rows_inserted" -> "count", "merge.rows_updated" -> "count",
      "merge.rows_unchanged" -> "count", "merge.rows_rewritten" -> "count",
      "merge.buckets_touched" -> "count", "merge.useful_ratio" -> "ratio",
      "dedup.jobs" -> "count", "dedup.wall_s" -> "s", "quality.wall_s" -> "s",
      "functions.shingle_ns_per_doc" -> "ns/doc",
      "functions.textstats_ns_per_char" -> "ns/char",
      "functions.cleantext_ns_per_char" -> "ns/char",
      "query.planning_s" -> "s") ++
    TargetQueries.map(q => s"query.${short(q)}_s" -> "s") ++
    RoundQueries.map(q => s"query.${short(q)}_jobs" -> "count")

  /** Per-unit counters of the listener window, as medians over units. */
  private def sparkMetrics(us: Seq[UnitRec]): Map[String, Double] = {
    def med(f: Recorder.Window => Double) = median(us.map(u => f(u.window)))
    Map(
      "spark.jobs" -> med(_.jobs.size.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.size.toDouble),
      "spark.driver_idle_s" -> med(_.driverIdleS),
      "spark.executor_run_s" -> med(_.tasks.map(_.runMs).sum / 1000.0),
      "spark.executor_cpu_s" -> med(_.tasks.map(_.cpuNs).sum / 1e9),
      "spark.gc_s" -> med(_.tasks.map(_.gcMs).sum / 1000.0),
      "spark.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> med(_.tasks.map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> med(_.tasks.map(_.spill).sum.toDouble),
      "spark.input_bytes" -> med(_.inputBytes.toDouble),
      "spark.output_bytes" -> med(_.outputBytes.toDouble),
      "merge.jobs" -> med(_.jobsIn("merge").size.toDouble),
      "merge.wall_s" -> med(_.jobsIn("merge").map(_.wallMs).sum / 1000.0),
      "merge.rows_rewritten" -> med(_.tasksIn("merge").map(_.outRecords).sum.toDouble),
      "dedup.jobs" -> med(_.jobsIn("dedup").size.toDouble),
      "dedup.wall_s" -> med(_.jobsIn("dedup").map(_.wallMs).sum / 1000.0),
      "quality.wall_s" -> med(_.jobsIn("quality").map(_.wallMs).sum / 1000.0))
  }

  private def stageMetrics(us: Seq[UnitRec]): Map[String, Double] =
    us.flatMap(_.stages).groupBy(_.stage).map { case (s, rs) =>
      s"pipeline.stage_s.$s" -> median(rs.map(_.durationMs / 1000.0))
    }

  /** Per-unit layer numbers the checks produced, as medians over units. */
  private def unitLayer(us: Seq[UnitRec]): Map[String, Double] =
    us.flatMap(_.layer.keys).distinct.map(k =>
      k -> median(us.flatMap(_.layer.get(k)))).toMap

  def all(us: Seq[UnitRec], probes: Map[String, Double]): Seq[(String, Double, String)] = {
    val known = sparkMetrics(us) ++ stageMetrics(us) ++ unitLayer(us) ++ probes
    val rewritten = known.getOrElse("merge.rows_rewritten", 0.0)
    val useful = known.getOrElse("merge.rows_inserted", 0.0) + known.getOrElse("merge.rows_updated", 0.0)
    val withRatio = known + ("merge.useful_ratio" -> (if (rewritten > 0) useful / rewritten else 0.0))
    Names.map { case (n, u) => (n, withRatio.getOrElse(n, 0.0), u) }
  }
}
