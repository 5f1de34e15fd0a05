package perfbench

/** Every per-layer metric of a traced run, with its unit. A workload that
  * does not exercise a layer reports 0 for it. */
object Layers {
  private val classes = Seq("light", "construction", "cpu", "stream")
  private val certs = Seq("q239")
  private def spark(prefix: String) = Seq(
    s"$prefix.jobs" -> "count", s"$prefix.stages" -> "count", s"$prefix.tasks" -> "count",
    s"$prefix.tasks_per_stage" -> "ratio", s"$prefix.core_util" -> "ratio",
    s"$prefix.shuffle_read_bytes" -> "bytes", s"$prefix.shuffle_write_bytes" -> "bytes",
    s"$prefix.spill_bytes" -> "bytes", s"$prefix.peak_exec_mem_bytes" -> "bytes")

  val all: Seq[(String, String)] =
    Seq("extract.s" -> "s", "extract.tasks" -> "count", "extract.fetches_per_book" -> "ratio",
      "transform.s" -> "s", "transform.jobs" -> "count", "transform.core_util" -> "ratio",
      "summarize.s" -> "s", "summarize.jobs" -> "count",
      "io.csv_bytes_written" -> "bytes", "io.stage_s" -> "s", "cold.pass_s" -> "s") ++
      classes.flatMap(c => Seq(s"queries.$c.build_s" -> "s", s"queries.$c.build_jobs" -> "count",
        s"queries.$c.exec_s" -> "s", s"queries.$c.catalyst_ms" -> "ms") ++ spark(s"queries.$c")) ++
      Seq("catalyst.ms" -> "ms") ++ spark("spark") ++
      certs.flatMap(c => Seq(s"streaming.$c.batches" -> "count", s"streaming.$c.state_rows" -> "count",
        s"streaming.$c.addBatch_ms" -> "ms", s"streaming.$c.harness_s" -> "s")) ++
      Seq("streaming.batches" -> "count", "streaming.addBatch_ms" -> "ms",
        "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
        "streaming.queryPlanning_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
        "streaming.state_rows" -> "count", "streaming.state_mem_bytes" -> "bytes",
        "streaming.rows_dropped_by_watermark" -> "count", "streaming.harness_s" -> "s",
        "streaming.microbatch_p50_ms" -> "ms", "streaming.microbatch_tail_ms" -> "ms",
        "trace.pass_s" -> "s", "trace.overhead_pct" -> "%")

  val names: Seq[String] = all.map(_._1)
}
