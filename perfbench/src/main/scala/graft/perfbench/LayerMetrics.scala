package graft.perfbench

/** Per-layer metrics of a traced pass. Layer names are the repository's
  * modules: `queries` (gate construction), `catalyst`, `codegen`,
  * `execution`, `shuffle`, `scan` (the `Tables` loaders), `plan` (the final
  * AQE plan), `streaming`, `sinks` and `engine` (the report runner); the
  * `memo` and `functions` layers are timed on their own after the pass.
  * Counts and times are totals over one pass unless the name says
  * otherwise; `self.<span>_s` is a span kind's duration minus the part its
  * child spans (the Catalyst phases, `catalyst.*`) cover. */
object LayerMetrics {
  import Main.median

  def apply(layers: Seq[Layers], spans: Seq[Span], allRequests: Seq[Request],
            tracedWallS: Double, untracedWallS: Double,
            checkPassCompiles: Long): Seq[(String, (Double, String))] = {
    def sum(f: Layers => Double): Double = layers.map(f).sum
    val s = "s"; val n = "count"; val b = "bytes"; val ms = "ms"
    val progress = layers.flatMap(_.triggers)
    val reports = layers.filter(_.req.name.startsWith("report_"))
    val children = spans.groupBy(_.parent)
    val selfByKind = spans.groupMapReduce(_.name) { sp =>
      sp.ms - children.getOrElse(sp.id, Nil).map(_.ms).sum
    }(_ + _)
    val requestSpanS = spans.filter(_.name == "request").map(_.ms).sum / 1e3

    Seq(
      "queries.construct_s" -> (sum(l => (l.req.builtNs - l.req.startNs) / 1e9), s),
      "queries.construct_jobs" -> (sum(_.constructJobs), n),
      "catalyst.analysis_s" -> (sum(_.phaseMs.getOrElse("analysis", 0.0)) / 1e3, s),
      "catalyst.optimization_s" -> (sum(_.phaseMs.getOrElse("optimization", 0.0)) / 1e3, s),
      "catalyst.planning_s" -> (sum(_.phaseMs.getOrElse("planning", 0.0)) / 1e3, s),
      "codegen.compiles" -> (sum(_.req.compiles), n),
      "codegen.compile_s" -> (sum(_.req.compileNs) / 1e9, s),
      "codegen.check_pass_compiles" -> (checkPassCompiles.toDouble, n),
      "execution.jobs" -> (sum(_.jobs), n),
      "execution.stages" -> (sum(_.stages), n),
      "execution.tasks" -> (sum(_.tasks), n),
      "execution.task_cpu_s" -> (sum(_.taskCpuS), s),
      "execution.gc_s" -> (sum(_.gcS), s),
      "execution.task_skew_max" -> (if (layers.isEmpty) 1.0 else layers.map(_.skewMax).max, "ratio"),
      "execution.peak_task_mem_bytes" ->
        (if (layers.isEmpty) 0.0 else layers.map(_.peakTaskMem.toDouble).max, b),
      "shuffle.write_bytes" -> (sum(_.shWrite), b),
      "shuffle.read_bytes" -> (sum(_.shRead), b),
      "shuffle.fetch_wait_s" -> (sum(_.fetchWaitS), s),
      "shuffle.spill_bytes" -> (sum(_.spill), b),
      "scan.bytes_read" -> (sum(_.bytesRead), b),
      "scan.rows_read" -> (sum(_.rowsRead), n),
      "plan.exchanges" -> (sum(_.exchanges), n),
      "plan.reused_exchanges" -> (sum(_.reused), n),
      "plan.broadcast_exchanges" -> (sum(_.broadcasts), n),
      "plan.codegen_stages" -> (sum(_.codegenStages), n),
    ) ++ Seq(
      "streaming.triggers" -> (progress.size.toDouble, n),
      "streaming.trigger_ms_p50" -> (median(progress.map(_.triggerMs.toDouble)), ms),
      "streaming.add_batch_ms" -> (progress.map(_.addBatchMs).sum.toDouble, ms),
      "streaming.wal_commit_ms" -> (progress.map(_.walCommitMs).sum.toDouble, ms),
      "streaming.query_planning_ms" -> (progress.map(_.planningMs).sum.toDouble, ms),
      "streaming.state_rows" -> (if (progress.isEmpty) 0.0 else progress.map(_.stateRows).max.toDouble, n),
      "streaming.state_mem_bytes" -> (if (progress.isEmpty) 0.0 else progress.map(_.stateMem).max.toDouble, b),
      "sinks.bytes_written" -> (sum(_.bytesWritten), b),
      "engine.report_s" ->
        (median(allRequests.filter(r => r.ok && r.name.startsWith("report_")).map(_.seconds)), s),
      // jobs of ReportRunner.run that scan the journal, for the report that
      // scanned most (under AQE each aggregate adds one more job that reads
      // only its shuffle); Main fails the run when a report's count is not 2
      "engine.jobs_per_report" ->
        (if (reports.isEmpty) 0.0 else reports.map(_.executeScanJobs).max.toDouble, n),
    ) ++ Seq("construct", "execute").map { k =>
      s"self.${k}_s" -> (selfByKind.getOrElse(k, 0.0) / 1e3, s)
    } ++ Seq(
      "trace.wall_s" -> (tracedWallS, s),
      "trace.overhead_s" -> (tracedWallS - untracedWallS, s),
      "trace.request_coverage" -> (if (untracedWallS > 0) requestSpanS / untracedWallS else 0.0, "ratio"),
    )
  }
}
