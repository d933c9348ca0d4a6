package perfbench

import Main.Pass

/** Turns passes, spans and listener events into the named metrics. Each
  * value is `(number, unit)`. Per-layer numbers are per traced pass
  * unless they come from the one-off probes.
  */
object Metrics {
  type M = Map[String, (Double, String)]

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  private def wallS(p: Pass): Double = (p.endNs - p.startNs) / 1e9

  private def within(passes: Seq[Pass], ms: Double): Boolean =
    passes.exists(p => ms >= Trace.off.epochMs(p.startNs) && ms <= Trace.off.epochMs(p.endNs))

  private def jobsIn(passes: Seq[Pass]) =
    Events.jobs.toSeq.filter(j => j.endMs > 0 && within(passes, j.startMs.toDouble))

  private def stagesOf(jobs: Seq[Events.Job]) = {
    val ids = jobs.flatMap(_.stageIds).toSet
    Events.stages.toSeq.filter(s => ids(s.id))
  }

  private def batchesIn(passes: Seq[Pass]) =
    Events.batches.toSeq.filter(b => within(passes, b.startMs.toDouble))

  def endToEnd(streaming: Boolean, setupS: Double, passes: Seq[Pass]): M = {
    val ok = passes.flatMap(_.execs).filter(_.ok)
    val times = ok.map(_.seconds)
    val (batchMs, rowsPerS) =
      if (streaming) {
        val bs = batchesIn(passes)
        val d = bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
        (d, bs.map(_.inputRows).sum / (d.sum / 1e3))
      } else (times.map(_ * 1e3), ok.map(_.samples).sum / times.sum)
    Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(passes.map(wallS)), "s"),
      "query_p50_s" -> (quantile(times, 0.5), "s"),
      "query_p90_s" -> (quantile(times, 0.9), "s"),
      "samples_per_s" -> (ok.map(_.samples).sum / passes.map(wallS).sum, "1/s"),
      "batch_p50_ms" -> (quantile(batchMs, 0.5), "ms"),
      "batch_p90_ms" -> (quantile(batchMs, 0.9), "ms"),
      "stream_rows_per_s" -> (rowsPerS, "1/s"),
      "heap_peak_mb" -> (passes.map(_.heapMb).max, "MB"))
  }

  val operatorFamilies = Seq("dedup", "text", "ann", "emb", "graph", "mm")

  def perLayer(traced: Seq[Pass], plain: Seq[Pass], trace: Trace, cores: Int): M = {
    val n = traced.size.toDouble
    def self(name: String) = trace.named(name).map(trace.selfSeconds).sum
    def inclusive(name: String) = trace.named(name).map(trace.seconds).sum
    def jobsDuring(name: String) = {
      val w = trace.named(name).map(s => (trace.epochMs(s.startNs), trace.epochMs(s.endNs)))
      Events.jobs.count(j => w.exists { case (a, b) => j.startMs >= a && j.startMs <= b })
    }
    val jobs = jobsIn(traced)
    val stages = stagesOf(jobs)
    val plans = Events.plans.toSeq.filter(p => within(traced, p.startMs.toDouble))
    val batches = batchesIn(traced)
    val samples = jobs.filter(_.rangeSample)
    def batchMean(f: Events.Batch => Double) =
      if (batches.isEmpty) 0.0 else batches.map(f).sum / batches.size
    def dur(k: String)(b: Events.Batch) = b.durations.getOrElse(k, 0L).toDouble
    val seriesify = self("signal.seriesify")
    val sweep = self("dsp.kernel") / trace.counts.getOrElse("dsp.sweeps", 1.0)
    val tracedWall = traced.map(wallS).sum
    Map(
      "tables.load_s" -> (self("tables.load"), "s"),
      "tables.load_jobs" -> (jobsDuring("tables.load").toDouble, "count"),
      "tables.scan_s" -> (self("tables.scan"), "s"),
      "queries.build_s" -> (self("queries.build") / n, "s"),
      "queries.build_jobs" -> (jobsDuring("queries.build") / n, "count"),
      "queries.exec_s" -> (self("queries.exec") / n, "s"),
      "plan.analysis_ms" ->
        ((plans.map(_.analysisMs).sum + trace.counts.getOrElse("plan.analysis_ms", 0.0)) / n, "ms"),
      "plan.optimization_ms" -> (plans.map(_.optimizationMs).sum / n, "ms"),
      "plan.planning_ms" -> (plans.map(_.planningMs).sum / n, "ms"),
      "signal.seriesify_s" -> (seriesify, "s"),
      "signal.seriesify_rows_per_s" -> (trace.counts("series.rows") / seriesify, "1/s"),
      "signal.explode_s" -> (self("signal.explode"), "s"),
      "functions.kernel_expr_s" -> (self("functions.kernel_expr"), "s"),
      "dsp.kernel_s" -> (sweep, "s"),
      "dsp.samples_per_s" -> (trace.counts("dsp.samples") / sweep, "1/s"),
      "spark.jobs" -> (jobs.size / n, "count"),
      "spark.stages" -> (stages.size / n, "count"),
      "spark.tasks" -> (stages.map(_.tasks).sum / n, "count"),
      "spark.one_task_stages" -> (stages.count(_.tasks == 1) / n, "count"),
      "spark.max_tasks_per_stage" -> (stages.map(_.tasks).maxOption.getOrElse(0).toDouble, "count"),
      "spark.executor_run_s" -> (stages.map(_.runMs).sum / 1e3 / n, "s"),
      "spark.executor_cpu_s" -> (stages.map(_.cpuNs).sum / 1e9 / n, "s"),
      "spark.gc_s" -> (stages.map(_.gcMs).sum / 1e3 / n, "s"),
      "spark.busy_frac" -> (stages.map(_.runMs).sum / 1e3 / (tracedWall * cores), "ratio"),
      "spark.shuffle_write_mb" -> (stages.map(_.shuffleWrite).sum / 1048576.0 / n, "MB"),
      "spark.shuffle_read_mb" -> (stages.map(_.shuffleRead).sum / 1048576.0 / n, "MB"),
      "spark.spill_mb" -> (stages.map(_.spill).sum / 1048576.0 / n, "MB"),
      "sort.sample_jobs" -> (samples.size / n, "count"),
      "sort.sample_s" -> (samples.map(j => j.endMs - j.startMs).sum / 1e3 / n, "s"),
      "stream.batches" -> (batches.size / n, "count"),
      "stream.input_rows" -> (batches.map(_.inputRows).sum / n, "count"),
      "stream.add_batch_ms" -> (batchMean(dur("addBatch")), "ms"),
      "stream.planning_ms" -> (batchMean(dur("queryPlanning")), "ms"),
      "stream.latest_offset_ms" -> (batchMean(dur("latestOffset")), "ms"),
      "stream.wal_commit_ms" -> (batchMean(dur("walCommit")), "ms"),
      "stream.commit_offsets_ms" -> (batchMean(dur("commitOffsets")), "ms"),
      "stream.state_commit_ms" -> (batchMean(_.stateCommitMs.toDouble), "ms"),
      "stream.state_rows" -> (batches.map(_.stateRows.toDouble).maxOption.getOrElse(0.0), "count"),
      "stream.state_mem_mb" ->
        (batches.map(_.stateMem.toDouble).maxOption.getOrElse(0.0) / 1048576.0, "MB"),
      "trace.overhead_frac" ->
        (median(traced.map(wallS)) / median(plain.map(wallS)) - 1.0, "ratio")
    ) ++ operatorFamilies.map { f =>
      s"operators.${f}_s" -> (inclusive(s"operators.$f") / n, "s")
    }
  }
}
