package perfbench

import perfbench.Tracer.OpSpan

/** Per-layer metrics of a traced run, summed over its traced loop
  * operations and closing maintenance. The build is counted only in
  * `index.build_ms` and `index.build_driver_ms`; its other figures stay
  * in the span file. Every name is always present: a layer a workload
  * does not touch reports 0. */
object Layers {

  /** (name, unit) in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.plan_ms" -> "ms",
    "spark.driver_self_ms" -> "ms", "spark.task_busy_ms" -> "ms", "spark.job_wall_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.gc_ms" -> "ms",
    "lance.scan.fragments_read" -> "count", "lance.scan.fragments_total" -> "count",
    "lance.scan.prune_frac" -> "ratio", "lance.scan.bytes_read" -> "B",
    "lance.scan.rows_read_per_result" -> "rows/row", "lance.scan.stats_answered" -> "count",
    "lance.write.commits" -> "count", "lance.write.call_ms" -> "ms",
    "lance.write.commit_self_ms" -> "ms", "lance.write.bytes" -> "B",
    "lance.write.files" -> "count", "lance.write.manifest_bytes" -> "B",
    "stream.batches" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "index.build_ms" -> "ms", "index.build_driver_ms" -> "ms", "index.search_ms" -> "ms",
    "index.append_ms" -> "ms", "index.rows_scored_per_query" -> "rows",
    "curate.score_ms" -> "ms", "curate.dedup_exact_ms" -> "ms", "curate.dedup_pairs_ms" -> "ms",
    "curate.sample_ms" -> "ms", "curate.pairs_found" -> "count",
    "jvm.heap_peak_mb" -> "MB", "harness.tmp_left_mb" -> "MB",
    "trace.ops" -> "count", "trace.overhead_frac" -> "ratio")

  /** Streaming progress phases reported per batch (p50 over batches). */
  private val StreamPhases = Seq(
    "stream.trigger_ms" -> "triggerExecution", "stream.add_batch_ms" -> "addBatch",
    "stream.wal_commit_ms" -> "walCommit", "stream.commit_offsets_ms" -> "commitOffsets",
    "stream.latest_offset_ms" -> "latestOffset", "stream.query_planning_ms" -> "queryPlanning")

  def metrics(all: Seq[OpSpan], untraced: Seq[OpResult],
              extras: Map[String, Double]): Map[String, Double] = {
    val (builds, spans) = all.partition(_.op.id == "build")
    def sum(f: OpSpan => Double, of: Seq[OpSpan] = spans): Double = of.map(f).sum
    def kind(p: String => Boolean) = spans.filter(s => p(s.op.kind))
    val plans = spans.flatMap(_.plans)
    val read = plans.map(_.fragmentsRead).sum.toDouble
    val total = plans.map(_.fragmentsTotal).sum.toDouble
    val writers = spans.filter(_.commits > 0)
    val batches = spans.flatMap(_.streams)
    val searches = kind(_.startsWith("search"))
    val m = Map[String, Double](
      "spark.jobs" -> sum(_.jobs.size),
      "spark.tasks" -> sum(_.tasks.size),
      "spark.plan_ms" -> plans.map(_.planMs).sum.toDouble,
      "spark.driver_self_ms" -> sum(_.selfMs),
      "spark.task_busy_ms" -> sum(_.taskMetric(_.executorRunTime)),
      "spark.job_wall_ms" -> sum(_.jobs.map { case (_, s, e) => (e - s).toDouble }.sum),
      "spark.shuffle_write_bytes" -> sum(_.taskMetric(_.shuffleWriteMetrics.bytesWritten)),
      "spark.gc_ms" -> sum(_.gcMs.toDouble),
      "lance.scan.fragments_read" -> read,
      "lance.scan.fragments_total" -> total,
      "lance.scan.prune_frac" -> (if (total > 0) 1 - read / total else 0.0),
      "lance.scan.bytes_read" -> plans.map(_.bytesRead).sum.toDouble,
      "lance.scan.rows_read_per_result" -> {
        val answering = spans.filter(_.op.resultRows > 0)
        sum(_.taskMetric(_.inputMetrics.recordsRead), answering) /
          math.max(1.0, sum(_.op.resultRows.toDouble, answering))
      },
      "lance.scan.stats_answered" -> plans.map(_.statsAnswered).sum.toDouble,
      "lance.write.commits" -> sum(_.commits.toDouble),
      "lance.write.call_ms" -> sum(_.op.ms, writers),
      "lance.write.commit_self_ms" -> sum(_.selfMs, writers),
      "lance.write.bytes" -> sum(_.writeBytes.toDouble),
      "lance.write.files" -> sum(_.writeFiles.toDouble),
      "lance.write.manifest_bytes" -> sum(_.manifestBytes.toDouble),
      "stream.batches" -> batches.size.toDouble,
      "index.build_ms" -> sum(_.op.ms, builds.filter(_.op.kind == "index.build")),
      "index.build_driver_ms" -> sum(_.selfMs, builds.filter(_.op.kind == "index.build")),
      "index.search_ms" -> sum(_.op.ms, searches),
      "index.append_ms" -> sum(_.op.ms, kind(_ == "append")),
      "index.rows_scored_per_query" ->
        (if (searches.isEmpty) 0.0
         else sum(_.taskMetric(_.inputMetrics.recordsRead), searches) / searches.size),
      "curate.score_ms" -> sum(_.op.ms, kind(_ == "score")),
      "curate.dedup_exact_ms" -> sum(_.op.ms, kind(_ == "dedup_exact")),
      "curate.dedup_pairs_ms" -> sum(_.op.ms, kind(_ == "dedup_pairs")),
      "curate.sample_ms" -> sum(_.op.ms, kind(_ == "sample")),
      "curate.pairs_found" -> 0.0,
      "trace.ops" -> spans.size.toDouble,
      "trace.overhead_frac" -> overhead(spans.map(_.op), untraced)
    ) ++ StreamPhases.map { case (name, key) =>
      val xs = batches.flatMap(_.durationMs.get(key)).map(_.toDouble)
      name -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    } ++ extras
    Metrics.map { case (name, _) => name -> m.getOrElse(name, 0.0) }.toMap
  }

  /** Traced over untraced latency, minus one: per operation kind present
    * in both halves, the sum of traced medians over the sum of untraced
    * medians (so the two halves' kind mixes cannot skew it). */
  def overhead(traced: Seq[OpResult], untraced: Seq[OpResult]): Double = {
    def medians(rs: Seq[OpResult]) =
      rs.filter(_.ok).groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }
    val t = medians(traced)
    val u = medians(untraced)
    val kinds = t.keySet & u.keySet
    if (kinds.isEmpty) 0.0 else kinds.toSeq.map(t).sum / kinds.toSeq.map(u).sum - 1
  }
}
