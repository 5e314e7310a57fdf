package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Turns a run's samples into its metrics, its JSON result line, and (when
  * traced) the per-layer table and the span file.
  */
object Report {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cpu_s_per_op" -> "s",
    "query_cpu_gmean_s" -> "s",
    "lake_bytes_per_input_byte" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Op kinds whose median latency is a per-layer metric `<layer>.<kind>_s`. */
  val TimedKinds: Seq[(String, String)] = Seq(
    "sources" -> "append", "sources" -> "upsert", "sources" -> "delete",
    "sources" -> "read_where", "sources" -> "history", "plans" -> "sql",
    "analytics" -> "top_categories", "analytics" -> "co_occurring",
    "analytics" -> "chi_square", "analytics" -> "case_control",
    "features" -> "encounter_features", "ml" -> "score",
    "text" -> "bm25", "text" -> "ivf_topk", "text" -> "hybrid",
    "text" -> "index_apply", "text" -> "near_dup")

  /** Op kinds only lake_maintenance runs; reported for that workload alone. */
  val MaintenanceKinds: Seq[(String, String)] = Seq(
    "sources" -> "update", "sources" -> "mv_refresh", "sources" -> "agg_refresh",
    "sources" -> "compact", "sources" -> "view_read")

  def perLayerFor(workload: String): Seq[(String, String)] =
    if (workload == "lake_maintenance")
      PerLayer ++ MaintenanceKinds.map { case (l, k) => s"$l.${k}_s" -> "s" }
    else PerLayer

  /** The per-layer metrics of BENCHMARK.json, in its order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.etl_s" -> "s", "ingest.etl_rows_per_s" -> "rows/s") ++
    TimedKinds.map { case (l, k) => s"$l.${k}_s" -> "s" } ++ Seq(
    "sources.commit_p50_s" -> "s",
    "sources.rows_per_s" -> "rows/s",
    "sources.commits_per_op" -> "count",
    "sources.fs_calls_per_op" -> "count",
    "sources.jobs_per_commit" -> "count",
    "sources.driver_s_per_commit" -> "s",
    "sources.files_added_per_commit" -> "count",
    "sources.files_removed_per_commit" -> "count",
    "sources.live_files" -> "count",
    "sources.files_scanned_per_query" -> "count",
    "sources.files_pruned_share" -> "ratio",
    "plans.analysis_s" -> "s",
    "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "analytics.jobs_per_query" -> "count",
    "analytics.shuffle_bytes_per_query" -> "bytes",
    "text.jobs_per_query" -> "count",
    "text.index_build_s" -> "s",
    "text.ivf_recall_at_10" -> "ratio",
    "core.tasks_per_op" -> "count",
    "core.task_busy_s_per_op" -> "s",
    "core.scheduler_delay_s_per_op" -> "s",
    "core.shuffle_bytes_per_op" -> "bytes",
    "core.spill_bytes_per_op" -> "bytes",
    "core.gc_s" -> "s")

  private def div(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = div(xs.sum, xs.size.toDouble)
  /** Geometric mean: every query type weighs the same, whatever its size. */
  private def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def endToEnd(b: Bench, lakeBytes: Long): Map[String, Double] = {
    val ops = b.samples.toSeq
    Map(
      "setup_s" -> med(b.setupParts.getOrElse("setup", Nil).toSeq),
      "cpu_s_per_op" -> mean(ops.map(_.cpuSeconds)),
      "query_cpu_gmean_s" -> gmean(ops.filterNot(_.write).map(_.cpuSeconds)),
      "lake_bytes_per_input_byte" -> div(lakeBytes.toDouble, b.inputBytes.toDouble),
      "peak_rss_mb" -> Stats.peakRssMb)
  }

  /** The wall-clock view of the timed ops, for the log: throughput and the
    * read ops' geometric-mean latency.
    */
  def wall(b: Bench): String = {
    val ops = b.samples.toSeq
    f"ops_per_s=${div(ops.size.toDouble, ops.map(_.seconds).sum)}%.4f " +
      f"query_gmean_s=${gmean(ops.filterNot(_.write).map(_.seconds))}%.4f"
  }

  def perLayer(b: Bench): Map[String, Double] = {
    val ops = b.samples.toSeq
    val traced = ops.flatMap(o => o.trace.map(o -> _))
    val writes = traced.filter(_._1.write)
    val reads = traced.filterNot(_._1.write)
    val commits = writes.map(_._2.commits).sum.toDouble
    def part(n: String) = med(b.setupParts.getOrElse(n, Nil).toSeq)
    def sumC(xs: Seq[(OpSample, OpTrace)])(f: OpCounters => Double) = xs.map(x => f(x._2.c)).sum
    val n = traced.size.toDouble
    val analytics = traced.filter(_._1.layer == "analytics")
    val serves = traced.filter(t => Set("bm25", "ivf_topk", "hybrid").contains(t._1.kind))
    val etl = part("ingest.etl")
    val timed = (TimedKinds ++ MaintenanceKinds).map { case (l, k) =>
      s"$l.${k}_s" -> med(ops.filter(_.kind == k).map(_.seconds))
    }
    (timed ++ Seq(
      "ingest.etl_s" -> etl,
      "ingest.etl_rows_per_s" -> div(med(b.extra.getOrElse("ingest.etl_rows", Nil).toSeq), etl),
      "sources.commit_p50_s" -> med(ops.filter(_.write).map(_.seconds)),
      "sources.rows_per_s" ->
        div(ops.filter(_.write).map(_.rows).sum.toDouble, ops.filter(_.write).map(_.seconds).sum),
      "sources.commits_per_op" -> div(traced.map(_._2.commits).sum.toDouble, n),
      "sources.fs_calls_per_op" -> div(traced.map(_._2.fsCalls).sum.toDouble, n),
      "sources.jobs_per_commit" -> div(sumC(writes)(_.jobs.toDouble), commits),
      "sources.driver_s_per_commit" ->
        div(writes.map(w => w._1.seconds - w._2.c.jobMs / 1e3).sum, commits),
      "sources.files_added_per_commit" -> div(writes.map(_._2.filesAdded).sum.toDouble, commits),
      "sources.files_removed_per_commit" ->
        div(writes.map(_._2.filesRemoved).sum.toDouble, commits),
      "sources.live_files" -> b.liveFiles.toDouble,
      "sources.files_scanned_per_query" ->
        div(sumC(reads)(_.filesScanned.toDouble), reads.size.toDouble),
      "sources.files_pruned_share" -> mean(b.extra.getOrElse("sources.files_pruned_share", Nil).toSeq),
      "plans.analysis_s" -> div(sumC(traced)(_.analysisMs / 1e3), n),
      "plans.optimization_s" -> div(sumC(traced)(_.optimizationMs / 1e3), n),
      "plans.planning_s" -> div(sumC(traced)(_.planningMs / 1e3), n),
      "analytics.jobs_per_query" -> div(sumC(analytics)(_.jobs.toDouble), analytics.size.toDouble),
      "analytics.shuffle_bytes_per_query" ->
        div(sumC(analytics)(_.shuffleBytes.toDouble), analytics.size.toDouble),
      "text.jobs_per_query" -> div(sumC(serves)(_.jobs.toDouble), serves.size.toDouble),
      "text.index_build_s" -> part("text.index_build"),
      "text.ivf_recall_at_10" -> mean(b.extra.getOrElse("text.ivf_recall_at_10", Nil).toSeq),
      "core.tasks_per_op" -> div(sumC(traced)(_.tasks.toDouble), n),
      "core.task_busy_s_per_op" -> div(sumC(traced)(_.taskRunMs / 1e3), n),
      "core.scheduler_delay_s_per_op" -> div(sumC(traced)(_.schedDelayMs / 1e3), n),
      "core.shuffle_bytes_per_op" -> div(sumC(traced)(_.shuffleBytes.toDouble), n),
      "core.spill_bytes_per_op" -> div(sumC(traced)(_.spillBytes.toDouble), n),
      "core.gc_s" -> b.gcSeconds)).toMap
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = metrics.map { case (name, unit) =>
      s""""$name": {"value": ${num(values.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Per op type: how its wall time splits into time covered by Spark jobs
    * and driver-only time, and into each layer's self time (span time not
    * covered by a child span).
    */
  def layerTable(b: Bench): String = {
    val t = b.tracer.getOrElse(return "")
    val byOp = t.spans.groupBy(_.op)
    val children = t.spans.groupBy(_.parent)
    def self(s: Span) = s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
    val layers = t.spans.map(_.layer).distinct.sorted.toSeq
    val sb = new StringBuilder
    sb.append((Seq("op", "n", "wall_s", "spark_job_s", "driver_s") ++
      layers.map(_ + "_self_s")).mkString("\t")).append('\n')
    b.samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      val tr = ss.flatMap(_.trace)
      val wall = ss.map(_.seconds).sum
      val job = tr.map(_.c.jobMs / 1e3).sum
      val selfBy = tr.flatMap(x => byOp.getOrElse(x.id, Nil)).groupBy(_.layer)
        .map { case (l, sp) => l -> sp.map(self).sum / 1e9 }
      sb.append((Seq(kind, ss.size.toString, f"$wall%.4f", f"$job%.4f", f"${wall - job}%.4f") ++
        layers.map(l => f"${selfBy.getOrElse(l, 0.0)}%.4f")).mkString("\t")).append('\n')
    }
    sb.toString
  }

  def writeSpans(b: Bench, path: Path): Unit = b.tracer.foreach { t =>
    Files.createDirectories(path.getParent)
    val kinds = b.samples.flatMap(s => s.trace.map(_.id -> s.kind)).toMap
    val lines = t.spans.map { s =>
      s"""{"op": ${s.op}, "op_kind": "${if (s.op == 0L) "setup" else kinds.getOrElse(s.op, "warmup")}", "span": ${s.id}, """ +
        s""""parent": ${s.parent}, "name": "${s.name}", "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
