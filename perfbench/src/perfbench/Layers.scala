package perfbench

/** The per-layer metric catalogue. Every traced run reports every name; a
  * layer the workload never calls reports 0.
  */
object Layers {

  val Families: Seq[String] =
    Seq("finance", "stats", "tpch", "dedup", "similarity", "text", "web", "multimodal", "streaming", "tx")

  val LakeIngest: Seq[String] = Seq(
    "ingest.load_and_store_s", "ingest.payload_store_s", "transforms.clean_store_s",
    "transforms.aggregate_store_s", "catalog.register_s", "lake.read_back_s",
    "spark.jobs_per_batch", "spark.tasks_per_batch", "streaming.drain_s",
    "streaming.micro_batches", "streaming.state_rows", "lake.bytes_written_per_input_byte",
    "lake.files_written_per_batch", "lake.gold_freshness_p50_ms", "lake.gold_freshness_p90_ms",
    "streaming.freshness_p50_ms", "lake.batches_per_s")

  val ApiMixed: Seq[String] = Seq(
    "lake.read_s", "lake.info_s", "lake.list_s", "serving.render_s", "serving.response_bytes",
    "spark.jobs_per_request.data", "spark.jobs_per_request.info", "spark.jobs_per_request.latest",
    "spark.jobs_per_request.transform", "api.overhead_ms", "api.read_p50_ms", "api.read_p90_ms", "api.read_p99_ms",
    "api.write_p50_ms")

  val QuerySuite: Seq[String] =
    (for {
      span <- Seq("registry.build", "catalyst.plan", "executor.exec")
      phase <- Seq("cold", "warm")
      f <- Families
    } yield s"${span}_${phase}_s.$f") ++ Seq(
      "spark.jobs", "spark.stages", "spark.tasks", "shuffle.read_bytes", "shuffle.write_bytes",
      "executor.spill_bytes", "executor.task_skew", "executor.single_task_stages",
      "executor.dispatch_floor_s", "session_cache.cached_bytes", "session_cache.residual_rdds")

  val All: Seq[String] = LakeIngest ++ ApiMixed ++ QuerySuite

  def unit(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name.contains("_s.")) "s"
    else if (name.endsWith("_bytes") || name == "serving.response_bytes") "bytes"
    else if (name == "executor.task_skew" || name == "lake.bytes_written_per_input_byte") "ratio"
    else "count"

  /** Whole-run Spark counters of the work selected by a [[Tracer.sparkWork]] call. */
  def spark(w: SparkWork, passes: Int): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs.toDouble / passes, "spark.stages" -> w.stages.toDouble / passes,
    "spark.tasks" -> w.tasks.toDouble / passes, "shuffle.read_bytes" -> w.shuffleRead.toDouble / passes,
    "shuffle.write_bytes" -> w.shuffleWrite.toDouble / passes,
    "executor.spill_bytes" -> w.spill.toDouble / passes, "executor.task_skew" -> w.taskSkew,
    "executor.single_task_stages" -> w.singleTaskStages.toDouble / passes,
    "executor.dispatch_floor_s" -> w.dispatchFloorS)

  /** Every catalogued name, taking measured values where present. */
  def complete(measured: Map[String, Double]): Map[String, Double] =
    All.map(k => k -> measured.getOrElse(k, 0.0)).toMap
}
