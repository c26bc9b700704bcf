package graft.pipeline

import java.nio.file.{Files, Paths}

/** Per-stage pipeline metrics report (A6; reference utils/metrics.py:
  * 18-59 `StageMetrics`, :138-170 `to_dict`/`save` → metrics.json).
  *
  * Counts come from `Sinks.observeStage` observations — exact, collected
  * during the run's existing actions with NO extra pass over the data.
  * Durations are wall-clock phase timers from `Pipeline.run`. One honest
  * deviation from the eager reference: ingest→clean→dedup→quality do
  * not run one after another. MinHash dedup's probe jobs, run while the
  * dedup stage is planned, already scan, clean and sign the corpus; the
  * first action over the quality frame (the tokenizer's word-frequency
  * aggregation, or the output write when tokenization is off) runs the
  * rest. The four stages therefore share one window, from just before
  * the dedup stage is planned to the end of that action, and say so via
  * `custom_metrics.evaluation = "fused"` — per-stage wall-clock is a
  * property of eager row-at-a-time engines, and un-fusing the plan to
  * time stages separately would throw away the engine's main win.
  */
final case class StageReport(
    stageName: String,
    startTime: Double, // epoch seconds, metrics.py StageMetrics.start_time
    endTime: Double,
    inputCount: Long,
    outputCount: Long,
    filteredCount: Long,
    errorCount: Long,
    bytesProcessed: Long,
    customMetrics: Map[String, String] = Map.empty) {

  /** metrics.py:45-48 */
  def durationSeconds: Double = math.max(0.0, endTime - startTime)

  /** metrics.py:50-55: docs out per second */
  def throughput: Double =
    if (durationSeconds == 0) 0.0 else outputCount / durationSeconds

  /** metrics.py:56-59: % of input filtered */
  def filterRate: Double =
    if (inputCount == 0) 0.0 else filteredCount.toDouble / inputCount * 100.0
}

object Metrics {

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def stageJson(s: StageReport): String = {
    val custom = s.customMetrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }.mkString("{", ", ", "}")
    s"""{"stage_name": "${esc(s.stageName)}", "start_time": ${s.startTime}, "end_time": ${s.endTime}, "duration_seconds": ${s.durationSeconds}, "input_count": ${s.inputCount}, "output_count": ${s.outputCount}, "filtered_count": ${s.filteredCount}, "error_count": ${s.errorCount}, "bytes_processed": ${s.bytesProcessed}, "throughput": ${s.throughput}, "filter_rate": ${s.filterRate}, "custom_metrics": $custom}"""
  }

  /** metrics.py:151-161 `to_dict` shape (+ the derived fields the
    * reference's printed report shows). */
  def reportJson(
      pipelineDurationSeconds: Double,
      stages: Seq[StageReport],
      filterReasons: Seq[(String, Long)],
      timestamp: String): String = {
    val stagesJson = stages
      .map(s => s""""${esc(s.stageName)}": ${stageJson(s)}""").mkString("{", ", ", "}")
    val reasonsJson = filterReasons
      .map { case (r, n) => s""""${esc(r)}": $n""" }.mkString("{", ", ", "}")
    s"""{"pipeline_duration_seconds": $pipelineDurationSeconds, "stages": $stagesJson, "filter_reasons": $reasonsJson, "timestamp": "${esc(timestamp)}"}"""
  }

  /** metrics.py:163-170 `save` */
  def save(path: String, json: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, json + "\n")
  }
}
