package graft.perfbench

/** The per-layer metrics of the traced run. Every workload reports the
  * whole list; a layer the workload does not reach reads 0, which is
  * how the "predicted flat" cells of the layer map show up. */
object Layers {

  /** (name, unit), in the order of BENCHMARK.json's `per_layer`. */
  val All: Seq[(String, String)] = Seq(
    "plan.build_ms" -> "ms", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.exec_ms" -> "ms",
    "sources.snapshot_ms" -> "ms", "sources.segments_live" -> "count",
    "sources.files_scanned" -> "count", "sources.files_skipped_ratio" -> "ratio",
    "maint.upsert_ms" -> "ms", "maint.delete_ms" -> "ms",
    "maint.compact_ms" -> "ms", "maint.read_at_ms" -> "ms",
    "maint.changes_ms" -> "ms", "maint.commit_driver_ms" -> "ms",
    "maint.files_written" -> "count", "maint.write_amp" -> "ratio",
    "fs.meta_ops_per_commit" -> "count", "fs.meta_ops_per_read" -> "count",
    "sql.merge_ms" -> "ms", "sql.delete_ms" -> "ms",
    "mv.refresh_ms" -> "ms", "mv.groups_recomputed" -> "count",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.overhead_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mb" -> "MB",
    "stream.backlog_max_chunks" -> "count", "stream.gen_late_ms" -> "ms",
    "stream1.freshness_p50_ms" -> "ms", "stream1.trigger_ms" -> "ms",
    "stream1.add_batch_ms" -> "ms", "stream1.overhead_ms" -> "ms",
    "stream1.wal_commit_ms" -> "ms", "stream1.commit_offsets_ms" -> "ms",
    "stream1.state_commit_ms" -> "ms",
    "fn.cosine_sim_mrows_s" -> "Mrows/s", "fn.minhash_sig_mrows_s" -> "Mrows/s",
    "fn.simhash64_mrows_s" -> "Mrows/s", "fn.pq_encode_mrows_s" -> "Mrows/s",
    "fn.pq_adc_mrows_s" -> "Mrows/s", "fn.hyperplane_buckets_mrows_s" -> "Mrows/s",
    "llm.minhash_ms" -> "ms", "llm.minhash_candidates" -> "count",
    "llm.simhash_ms" -> "ms", "llm.simhash_candidates" -> "count",
    "llm.knn_candidates_per_query" -> "count", "llm.knn_useful_ratio" -> "ratio",
    "llm.index_fits" -> "count", "llm.recall_at_10" -> "ratio",
    "llm.task_share" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_files" -> "count", "spark.driver_only_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MB",
    "trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  private val units = All.toMap

  def set(ctx: Ctx, name: String, v: Double): Unit = {
    require(units.contains(name), s"unlisted per-layer metric $name")
    ctx.layerMetric(name, if (v.isNaN) 0.0 else v, units(name))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median duration of the spans called `span`, as metric `name`. */
  def spanMedian(ctx: Ctx, name: String, span: String): Unit =
    set(ctx, name, Stats.median(Trace.durations(span)))

  /** Wall time of an op during which none of its Spark jobs ran. */
  def driverOnlyMs(r: Ctx.OpRec): Double = {
    val iv = Trace.jobStats(r.id).intervals.toList.sortBy(_._1)
    val (s0, e0) = (Ctx.wallMs(r.startNs), Ctx.wallMs(r.endNs))
    var covered = 0.0
    var cur = s0
    iv.foreach { case (a, b) =>
      val lo = math.max(cur, a.toDouble); val hi = math.min(e0, b.toDouble)
      if (hi > lo) { covered += hi - lo; cur = hi }
    }
    math.max(0.0, (e0 - s0) - covered)
  }

  /** Spark-runtime, filesystem and JVM metrics averaged over the traced
    * ops of the timed phase. */
  def common(ctx: Ctx, gcMs: Double): Unit = {
    val rs = ctx.ops.filter(r => r.traced && r.ok).toList
    val js = rs.map(r => Trace.jobStats(r.id))
    def per(f: Trace.JobStats => Double) = mean(js.map(f))
    set(ctx, "spark.jobs", per(_.jobs.toDouble))
    set(ctx, "spark.stages", per(_.stages.toDouble))
    set(ctx, "spark.tasks", per(_.tasks.toDouble))
    set(ctx, "spark.task_s", per(_.taskMs / 1000.0))
    set(ctx, "spark.shuffle_write_mb", per(_.shuffleWrite / 1048576.0))
    set(ctx, "spark.shuffle_read_mb", per(_.shuffleRead / 1048576.0))
    set(ctx, "spark.input_mb", per(_.input / 1048576.0))
    set(ctx, "spark.output_files", mean(rs.map(_.fs.creates.toDouble)))
    set(ctx, "spark.driver_only_ms", Stats.median(rs.map(driverOnlyMs)))
    set(ctx, "jvm.gc_ms", gcMs)
    set(ctx, "jvm.alloc_mb", mean(rs.map(_.allocBytes / 1048576.0)))
    set(ctx, "trace.spans", Trace.allSpans.size.toDouble)
    All.foreach { case (n, u) =>
      if (!ctx.hasLayerMetric(n)) ctx.layerMetric(n, 0.0, u)
    }
  }

  /** p50 of the traced ops of `group` minus p50 of its untraced ops
    * (of `group` or of `untraced_<group>`). */
  def overhead(ctx: Ctx, group: String): Unit = {
    val rs = ctx.ops.filter(r => r.ok && (r.group == group || r.group == "untraced_" + group))
    val (t, u) = rs.partition(_.traced)
    set(ctx, "trace.overhead_ms",
      if (t.isEmpty || u.isEmpty) 0.0
      else Stats.median(t.map(_.wallMs).toSeq) - Stats.median(u.map(_.wallMs).toSeq))
  }
}
