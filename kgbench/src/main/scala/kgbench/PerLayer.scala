package kgbench

/** The per-layer metrics of a traced run. Every workload reports all of
  * them; a layer a workload bypasses reads 0. */
object PerLayer {
  val Metrics: Seq[(String, String)] = Seq(
    "boot.session_s" -> "s", "boot.dims_s" -> "s", "boot.alias_s" -> "s",
    "boot.prepare_s" -> "s", "boot.prompt_dicts_s" -> "s", "boot.client_warm_s" -> "s",
    "extract.self_s" -> "s", "extract.task_cpu_s" -> "s", "extract.html_mb" -> "MiB",
    "dedup.self_s" -> "s", "dedup.task_cpu_s" -> "s", "dedup.shuffle_mb" -> "MiB",
    "dedup.spill_mb" -> "MiB", "dedup.dropped_pages" -> "count",
    "infer.self_s" -> "s", "infer.task_cpu_s" -> "s", "infer.client_s" -> "s",
    "infer.requests" -> "count", "infer.batches" -> "count",
    "transport.calls" -> "count", "transport.retries" -> "count",
    "transport.faults" -> "count", "transport.busy_frac" -> "ratio",
    "parse.self_s" -> "s", "parse.ok_frac" -> "ratio", "parse.triplets" -> "count",
    "align.t1_self_s" -> "s", "align.t2_self_s" -> "s", "align.t3_self_s" -> "s",
    "align.t1_linked_frac" -> "ratio", "align.linked_frac" -> "ratio",
    "align.shuffle_mb" -> "MiB",
    "canon.self_s" -> "s", "canon.jobs" -> "count", "canon.clusters" -> "count",
    "canon.merged_frac" -> "ratio",
    "hydrate.self_s" -> "s", "hydrate.hit_frac" -> "ratio",
    "rdf.self_s" -> "s", "rdf.triples" -> "count",
    "pipeline.resume_s" -> "s", "pipeline.repartition_mb" -> "MiB",
    "commit.self_s" -> "s", "commit.files" -> "count", "commit.mb_written" -> "MiB",
    "commit.manifest_files" -> "count",
    "compact.self_s" -> "s", "compact.files_after" -> "count",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
    "stream.add_batch_s.p50" -> "s", "stream.plan_s.p50" -> "s",
    "redrive.self_s" -> "s", "redrive.healed_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.slot_busy_frac" -> "ratio",
    "gate.sql_s" -> "s", "gate.ops_s" -> "s", "gate.kg_s" -> "s", "gate.jobs" -> "count",
    "gate.shuffle_mb" -> "MiB") ++
    Gate.Names.map(q => s"q.${q}_s" -> "s")

  private val units = Metrics.toMap
  def unit(name: String): String = units(name)

  /** All metrics, with the ones a workload measured filled in. */
  def complete(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- units.keySet
    Predef.require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Metrics.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }.toMap
  }
}
