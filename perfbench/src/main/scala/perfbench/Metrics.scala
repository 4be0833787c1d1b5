package perfbench

/** A reported metric: name, unit and which direction is better. */
final case class MetricDef(name: String, unit: String, better: String)

/** The benchmark's metric names. BENCHMARK.json lists the same names
  * (`perfbench.Main --list-metrics` prints them), and run.py refuses a
  * result whose names differ from it. */
object Metrics {
  val EndToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s", "lower"),
    MetricDef("load_s", "s", "lower"),
    MetricDef("serve_s", "s", "lower"))

  val Layers: Seq[String] = Seq("streaming.ingest", "pipeline.scheduler",
    "pipeline.sink", "serving.charts", "sources.lake", "operators", "streaming.replay")

  private val common: Seq[(String, String, String)] = Seq(
    ("busy_s", "s", "lower"), ("calls", "count", "higher"), ("failed", "count", "lower"),
    ("jobs", "count", "lower"), ("tasks", "count", "lower"), ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("shuffle_read_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"), ("spill_bytes", "B", "lower"),
    ("plan_ms", "ms", "lower"))

  private val progress: Seq[(String, String, String)] = Seq(
    ("batch_plan_ms", "ms", "lower"), ("batch_addbatch_ms", "ms", "lower"),
    ("batch_wal_ms", "ms", "lower"), ("state_rows", "rows", "lower"),
    ("state_commit_ms", "ms", "lower"), ("state_mem_bytes", "B", "lower"))

  private val extra: Map[String, Seq[(String, String, String)]] = Map(
    "streaming.ingest" -> (Seq(("rows_in", "rows", "higher"), ("rows_out", "rows", "higher"),
      ("dedup_hit_ratio", "ratio", "higher"), ("rows_per_s", "rows/s", "higher")) ++ progress),
    "pipeline.scheduler" -> Seq(("agg_rows", "rows", "higher")),
    "pipeline.sink" -> Seq(("append_s", "s", "lower"), ("read_s", "s", "lower"),
      ("compact_s", "s", "lower"), ("stored_rows", "rows", "lower")),
    "serving.charts" -> Seq(("process_data_s", "s", "lower"),
      ("query_p50_ms", "ms", "lower"), ("query_p90_ms", "ms", "lower")),
    "sources.lake" -> RegistryBatch.Families.map(f => (s"${f._1}_s", "s", "lower")),
    "operators" -> RegistryBatch.OperatorModules.map(m => (s"${m}_s", "s", "lower")),
    "streaming.replay" -> (("batches", "count", "higher") +: progress))

  val PerLayer: Seq[MetricDef] = Layers.flatMap { l =>
    (common ++ extra.getOrElse(l, Nil)).map { case (n, u, b) => MetricDef(s"$l.$n", u, b) }
  }

  /** Every per-layer value of a run: the tracer's self times and call
    * counts, the listeners' counts, and what the workload measured. A
    * layer the workload does not touch reads 0. */
  def perLayer(tracer: Tracer, listeners: Option[LayerListeners],
      info: Map[String, Double]): Map[String, Double] = {
    val values = Layers.flatMap { l =>
      val c = listeners.map(_.counters(l)).getOrElse(new LayerCounters)
      Seq(
        s"$l.busy_s" -> tracer.selfNs(l) / 1e9,
        s"$l.calls" -> tracer.calls(l).toDouble,
        s"$l.failed" -> tracer.failed(l).toDouble,
        s"$l.jobs" -> c.jobs.toDouble,
        s"$l.tasks" -> c.tasks.toDouble,
        s"$l.task_cpu_s" -> c.cpuNs / 1e9,
        s"$l.gc_s" -> c.gcMs / 1e3,
        s"$l.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        s"$l.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        s"$l.spill_bytes" -> c.spill.toDouble,
        s"$l.plan_ms" -> c.planMs.toDouble,
        s"$l.batches" -> c.batches.toDouble,
        s"$l.batch_plan_ms" -> c.batchPlanMs.toDouble,
        s"$l.batch_addbatch_ms" -> c.batchAddMs.toDouble,
        s"$l.batch_wal_ms" -> c.batchWalMs.toDouble,
        s"$l.state_rows" -> c.stateRows.toDouble,
        s"$l.state_commit_ms" -> c.stateCommitMs.toDouble,
        s"$l.state_mem_bytes" -> c.stateMemBytes.toDouble)
    }.toMap ++ Seq(
      "pipeline.sink.append_s" -> tracer.kindNs("pipeline.sink.append") / 1e9,
      "pipeline.sink.read_s" -> tracer.kindNs("pipeline.sink.read") / 1e9,
      "pipeline.sink.compact_s" -> tracer.kindNs("pipeline.sink.compact") / 1e9,
      "serving.charts.process_data_s" -> tracer.kindNs("serving.charts.process_data") / 1e9) ++ info
    PerLayer.map(m => m.name -> values.getOrElse(m.name, 0.0)).toMap
  }
}
