package graft.perfbench

/** The per-layer figures of a traced run, computed for the names
  * BENCHMARK.json lists (the launcher passes them, and attaches their
  * units). A layer's time or count is the mean over the traced calls
  * that reached it: `sinks.merge_s` is per merge, `quality.jobs` per
  * checker run. Spark counters, `catalog.commits`, `catalog.log_*`,
  * `self.*` and `trace.op_wall_s` are means over all traced calls, so the
  * self times add up to the call's wall time. `catalog.plan_ms` is per
  * read, `streaming.*` per trigger, and names with `per_` are ratios. A
  * layer a workload does not reach reads 0.
  */
object Metrics {
  /** Ratio metrics: numerator and denominator counters. */
  private val ratios: Map[String, (String, String)] = Map(
    "catalog.files_added_per_commit" -> ("catalog.files_added", "catalog.commits"),
    "catalog.plan_ms" -> ("catalog.plan_ms", "catalog.reads"),
    "catalog.files_read_per_lookup" -> ("catalog.files_read", "catalog.lookups"),
    "catalog.rows_read_per_row_returned" -> ("catalog.rows_read", "catalog.rows_returned"),
    "sinks.jobs_per_merge" -> ("sinks.jobs", "sinks.merges"),
    "sinks.files_rewritten_per_merge" -> ("sinks.files_rewritten", "sinks.merges"),
    "sinks.rows_rewritten_per_row_changed" -> ("sinks.rows_rewritten", "sinks.rows_changed"),
    "dedup.recall" -> ("dedup.planted_found", "dedup.planted"),
    "sim.pairs_scored_per_pair_kept" -> ("sim.pairs_scored", "sim.pairs_kept"),
    "streaming.addbatch_ms" -> ("streaming.addbatch_ms", "streaming.triggers"),
    "streaming.plan_ms" -> ("streaming.plan_ms", "streaming.triggers"),
    "streaming.wal_ms" -> ("streaming.wal_ms", "streaming.triggers"),
    "streaming.source_ms" -> ("streaming.source_ms", "streaming.triggers"),
    "streaming.state_rows" -> ("streaming.state_rows", "streaming.triggers"),
    "streaming.state_mem_bytes" -> ("streaming.state_mem_bytes", "streaming.triggers"),
    "streaming.state_commit_ms" -> ("streaming.state_commit_ms", "streaming.triggers"),
    "streaming.backlog_files" -> ("streaming.backlog_files", "streaming.triggers"))

  /** Counters reported as a mean per traced call (None) or per traced
    * call that opened the given span.
    */
  private val counters: Map[String, Option[String]] = Map(
    "catalog.commits" -> None, "catalog.log_reads" -> None, "catalog.log_bytes" -> None,
    "catalog.compact_bytes_rewritten" -> Some("catalog.compact"),
    "ingest.rows_landed" -> Some("ingest.run"), "gold.feed_rows" -> Some("gold.refresh"),
    "dedup.cap_dropped" -> Some("dedup.minhash"))

  /** Seconds per traced call inside a span of this name (`<span>_s`). */
  private val spans = Set("catalog.data", "catalog.stats", "catalog.manifest",
    "catalog.commit", "catalog.compact", "catalog.vacuum", "sinks.merge", "ingest.run",
    "quality.check", "gold.refresh", "dedup.exact", "dedup.minhash", "dedup.containment",
    "text.filter", "text.pii", "text.decontam", "sim.semdedup")

  /** Seconds per containment call the program's own PhaseTimer recorded. */
  private val phases = Map(
    "dedup.containment_pairs_s" -> "containment.pairs",
    "dedup.containment_verify_s" -> "containment.verify")

  /** Spark counters per traced call. `jobs@<span>` are the jobs
    * submitted inside that span.
    */
  private val sparkKeys = Map(
    "spark.jobs" -> "jobs", "spark.stages" -> "stages", "spark.tasks" -> "tasks",
    "spark.input_bytes" -> "input_bytes", "spark.shuffle_write_bytes" -> "shuffle_write_bytes",
    "spark.shuffle_read_bytes" -> "shuffle_read_bytes", "spark.spill_bytes" -> "spill_bytes",
    "spark.sched_delay_ms" -> "sched_delay_ms", "spark.gc_ms" -> "gc_ms")

  /** The read round's spans: their Spark input rows over the rows they
    * returned is `catalog.rows_read_per_row_returned`.
    */
  private val readSpans = Seq("catalog.lookup", "catalog.scan", "catalog.time_travel",
    "catalog.change_feed", "gold.read")

  /** `spanCalls` counts, per span name, the traced calls that opened it. */
  def perLayer(names: Seq[String], counts0: Map[String, Double], spanS: Map[String, Double],
               spanCalls: Map[String, Int], selfS: Map[String, Double],
               spark: Map[String, Long], tracedWallMs: Seq[Double],
               overheadPct: Double): Map[String, Double] = {
    val n = tracedWallMs.size.toDouble
    def calls(span: String) = spanCalls.getOrElse(span, 0).toDouble
    val counts = counts0 ++ Map(
      "sinks.jobs" -> spark.getOrElse("jobs@sinks.merge", 0L).toDouble,
      "catalog.rows_read" ->
        readSpans.map(s => spark.getOrElse(s"input_records@$s", 0L)).sum.toDouble)
    def c(k: String) = counts.getOrElse(k, 0.0)
    def div(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    // env.* come from Main's environment witness
    names.filterNot(_.startsWith("env.")).map { name =>
      val v = name match {
        case r if ratios.contains(r) => div(c(ratios(r)._1), c(ratios(r)._2))
        case k if counters.contains(k) => div(c(k), counters(k).map(calls).getOrElse(n))
        case s if s.endsWith("_s") && spans(s.stripSuffix("_s")) =>
          div(spanS.getOrElse(s.stripSuffix("_s"), 0.0), calls(s.stripSuffix("_s")))
        case p if phases.contains(p) => div(c(s"pt.${phases(p)}"), calls("dedup.containment"))
        case "quality.jobs" =>
          div(spark.getOrElse("jobs@quality.check", 0L).toDouble, calls("quality.check"))
        case s if sparkKeys.contains(s) => div(spark.getOrElse(sparkKeys(s), 0L).toDouble, n)
        case "spark.cpu_util" =>
          div(spark.getOrElse("cpu_ns", 0L).toDouble, spark.getOrElse("wall_ns", 0L) * 4.0)
        case l if l.startsWith("self.") =>
          val layer = l.stripPrefix("self.").stripSuffix("_s")
          div(selfS.getOrElse(if (layer == "unattributed") "bench" else layer, 0.0), n)
        case "trace.op_wall_s" => div(tracedWallMs.sum / 1e3, n)
        case "trace.traced_ops" => n
        case "trace.overhead_pct" => overheadPct
        case other => throw new IllegalArgumentException(s"metric $other is not measured")
      }
      name -> v
    }.toMap
  }
}
