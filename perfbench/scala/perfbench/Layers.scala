package perfbench

/** Per-layer figures of one traced run, by the names BENCHMARK.json
  * lists. A layer's time is the self time (duration minus child spans)
  * of the spans charged to its module: a step's spans carry the step's
  * module, and a layer function a step calls directly has a span of its
  * own. Spark work is counted on the span that started the job. The
  * write amplification is bytes the program wrote to its own stores
  * and sinks over bytes its scans read. */
object Layers {
  def apply(t: Tracer, spans: Seq[Span], steps: Seq[Map[String, Any]],
      wallS: Double): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def jobs(ss: Seq[Span]): Double = ss.flatMap(s => t.bySpan.get(s.id)).map(_.jobs).sum.toDouble
    def self(s: Span): Double = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    def moduleS(m: String): Double = spans.filter(_.module == m).map(self).sum
    def moduleJobs(m: String): Double = jobs(spans.filter(_.module == m))
    def phase(ph: String): Seq[Span] = spans.filter(_.phase == ph)

    val all = t.bySpan.values
    def total(f: Work => Long): Double = all.map(f).sum.toDouble
    val scanBytes = total(_.scanBytes)
    val busyS = total(_.busyMs) / 1e3
    val batches = t.batchMs.sorted
    def pct(q: Double): Double =
      if (batches.isEmpty) 0.0
      else batches(math.min(batches.size - 1, math.ceil(q * batches.size).toInt - 1).max(0)).toDouble
    def stepMax(k: String): Double = steps.flatMap(_.get(k)).map(_.toString.toDouble).maxOption.getOrElse(0.0)

    Map(
      "tables.scan_mb" -> scanBytes / 1e6,
      "tables.scan_records" -> total(_.scanRecords),
      "tables.scan_task_s" -> total(_.scanMs) / 1e3,
      "queries.build_s" -> phase("build").map(_.seconds).sum,
      "queries.build_jobs" -> jobs(phase("build").flatMap(subtree)),
      "queries.plan_chars" -> t.planChars.values.sum.toDouble,
      "queries.run_s" -> phase("run").map(_.seconds).sum,
      "queries.run_jobs" -> jobs(phase("run").flatMap(subtree)),
      "spark.stages" -> total(_.stages),
      "spark.tasks" -> total(_.tasks),
      "spark.busy_s" -> busyS,
      "spark.busy_frac" -> busyS / (wallS * 4),
      "spark.gc_s" -> total(_.gcMs) / 1e3,
      "spark.shuffle_read_mb" -> total(_.shuffleRead) / 1e6,
      "spark.shuffle_write_mb" -> total(_.shuffleWrite) / 1e6,
      "spark.spill_mb" -> total(_.spill) / 1e6,
      "caches.tracked" -> stepMax("tracked"),
      "caches.storage_mb" -> stepMax("storage_bytes") / 1e6,
      "graph.s" -> moduleS("graph"),
      "graph.jobs" -> moduleJobs("graph"),
      "dedup.s" -> moduleS("dedup"),
      "dedup.jobs" -> moduleJobs("dedup"),
      "similarity.s" -> moduleS("similarity"),
      "similarity.jobs" -> moduleJobs("similarity"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms_p50" -> pct(0.5),
      "streaming.batch_ms_p90" -> pct(0.9),
      "streaming.rows_per_s" ->
        (if (batches.isEmpty) 0.0 else t.streamRows / (batches.sum / 1e3).max(1e-3)),
      "sources.write_mb" -> t.writeBytes / 1e6,
      "sources.files_written" -> t.writeFiles.toDouble,
      "sources.write_amp" -> (if (scanBytes > 0) t.writeBytes / scanBytes else 0.0))
  }
}
