package graftbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced pass. Every workload reports every
  * name; a layer a workload does not exercise reads 0.
  */
object Layers {
  val modules: Seq[String] = Seq("cdc", "contract", "llm", "ops", "streaming")
  val selfLayers: Seq[String] =
    Seq("bench", "cdc", "contract", "core", "llm", "ops", "spark", "streaming")

  /** Metrics a workload fills in itself (0 where it does not apply). */
  val workloadOwned: Seq[String] = Seq(
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.query_planning_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.get_batch_ms_p50",
    "streaming.jobs_per_batch", "streaming.write_amplification", "streaming.table_files",
    "streaming.curate_call_s_p50", "streaming.retract_call_s", "streaming.maintain_call_s",
    "streaming.admitted_ratio", "streaming.dedup_drop_ratio",
    "cdc.input_rows", "cdc.schema_history_events", "cdc.snapshot_rows_per_s",
    "contract.build_ms_p50", "contract.exec_ms_p50")

  /** Run totals that are also reported per op (`<name>.per_op`). */
  val additive: Seq[String] =
    Seq("cdc.input_rows") ++ modules.flatMap(m => Seq(s"$m.job_s", s"$m.jobs")) ++
      Seq("spark.sql.analysis_ms", "spark.sql.optimization_ms", "spark.sql.planning_ms",
        "spark.sql.exchanges", "spark.sql.broadcasts",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_s", "spark.driver_gap_s",
        "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
        "spark.input_bytes", "spark.output_bytes", "spark.output_rows") ++
      (FsCounters.names ++ Seq("filecontext_calls", "bytes_written", "bytes_read"))
        .map(n => s"fs.$n")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def metrics(t: Tracer, spans: Seq[Span], pass: PassResult, cores: Int): Map[String, Double] = {
    val wall = pass.wallS
    val jobs = t.jobs.values.asScala.toSeq.filter(_.endUs >= 0)
    val stages = t.stages.asScala.toSeq
    val stageToJob = jobs.sortBy(-_.jobId).flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val runByJob = stages.groupBy(s => stageToJob.getOrElse(s.stageId, -1))
      .map { case (j, ss) => j -> ss.map(_.runMs).sum / 1e3 }
    val layerByJob = spans.filter(_.kind == "job")
      .map(s => s.name.stripPrefix("job ").toInt -> s.layer).toMap
    val byModule = modules.flatMap { m =>
      val js = jobs.filter(j => layerByJob.get(j.jobId).contains(m))
      Seq(s"$m.job_s" -> js.map(j => runByJob.getOrElse(j.jobId, 0.0)).sum,
        s"$m.jobs" -> js.size.toDouble)
    }.toMap
    val busyUs = Intervals.unionLen(jobs.map(j => (j.startUs, j.endUs)))
    val cpuS = stages.map(_.cpuNs).sum / 1e9
    val skew = stages.filter(_.numTasks >= 4).flatMap { st =>
      Option(t.taskMs.get(st.stageId)).map(_.asScala.map(_.toDouble).toSeq)
        .filter(ts => ts.size >= 4 && median(ts) > 0).map(ts => ts.max / median(ts))
    }
    val qes = t.queryExecs.asScala.toSeq
    val spark = Map(
      "spark.sql.analysis_ms" -> qes.map(_.analysisMs).sum.toDouble,
      "spark.sql.optimization_ms" -> qes.map(_.optimizationMs).sum.toDouble,
      "spark.sql.planning_ms" -> qes.map(_.planningMs).sum.toDouble,
      "spark.sql.exchanges" -> qes.map(_.exchanges).sum.toDouble,
      "spark.sql.broadcasts" -> qes.map(_.broadcasts).sum.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.numTasks).sum.toDouble,
      "spark.job_busy_s" -> busyUs / 1e6,
      "spark.driver_gap_s" -> math.max(wall - busyUs / 1e6, 0.0),
      "spark.executor_cpu_s" -> cpuS,
      "spark.executor_run_s" -> stages.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
      "spark.output_rows" -> stages.map(_.outputRows).sum.toDouble,
      "spark.cpu_util" -> (if (wall > 0) cpuS / (wall * cores) else 0.0),
      "spark.task_skew" -> (if (skew.isEmpty) 0.0 else skew.max),
      "spark.jobs_concurrent_avg" ->
        (if (busyUs > 0) jobs.map(j => j.endUs - j.startUs).sum.toDouble / busyUs else 0.0))
    val fs = t.fsDelta.map { case (k, v) => s"fs.$k" -> v.toDouble }
    val self = Intervals.selfTimeByLayer(spans)
    val selfM = selfLayers.map(l => s"self_s.$l" -> self.getOrElse(l, 0.0)).toMap
    val base = workloadOwned.map(n => n -> pass.metrics.getOrElse(n, 0.0)).toMap ++
      byModule ++ spark ++ fs ++ selfM
    val n = math.max(pass.ops.size, 1)
    base ++ additive.map(a => s"$a.per_op" -> base.getOrElse(a, 0.0) / n)
  }
}
