package perfbench

import scala.collection.mutable

/** End-to-end metrics (untraced run) and per-layer metrics (traced run). */
object Metrics {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def windowS(ops: Seq[Op]): Double =
    if (ops.isEmpty) 1.0 else (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9

  def endToEnd(ops: Seq[Op], setups: Seq[Double]): Seq[(String, Double, String)] = {
    val w = windowS(ops)
    Seq(
      ("setup_s", median(setups), "s"),
      ("op_p50_ms", median(ops.map(_.ms)), "ms"),
      ("ops_per_s", ops.size / w, "1/s"),
      ("rows_per_s", ops.map(_.rows).sum / w, "rows/s"))
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def perLayer(ops: Seq[Op], t: Trace, firstLoadS: Double, extra: Map[String, Double],
      w: Workload): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val byId = t.spans.map(s => s.id -> s).toMap
    val children: Map[Long, Seq[Span]] = t.spans.toSeq.groupBy(_.parent)
    val opOf = mutable.HashMap.empty[Long, Long]
    def opAncestor(id: Long): Long = opOf.getOrElseUpdate(id, byId.get(id) match {
      case Some(s) if s.name == "op" => s.id
      case Some(s) => opAncestor(s.parent)
      case None => 0L
    })
    val tracedOps = traced.map(o => o.span -> o).toMap
    def inTraced(spanId: Long): Boolean = tracedOps.contains(opAncestor(spanId))
    // Work whose span is unknown (e.g. submitted from a thread that did not
    // inherit the property) is attributed to the op whose interval holds it.
    def opAt(ms: Long): Option[Op] = traced.find(o => o.startNs / 1000000L <= ms && ms <= o.endNs / 1000000L)
    def opFor(span: Long, ms: Long): Option[Op] =
      tracedOps.get(opAncestor(span)).orElse(if (span == 0L) opAt(ms) else None)

    def spanMs(name: String): Double =
      t.spans.filter(s => s.name == name && inTraced(s.id)).map(_.ms).sum / n
    def selfMs(prefix: String): Double =
      t.spans.filter(s => s.name.startsWith(prefix) && inTraced(s.id)).map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e6
      }.sum / n

    val jobs = t.jobs.values.toSeq.flatMap(j => opFor(j.span, j.startMs).map(o => (o, j)))
    val stages = t.stages.values.toSeq.flatMap(s => opFor(s.span, s.submittedMs).map(o => (o, s)))
    val aggs = stages.map(_._2.agg)
    val qes = t.qes.toSeq.flatMap(q => opAt(q.endMs).map(o => (o, q)))
    val scans = qes.flatMap(_._2.scans)
    val tableRuns = t.spans.count(s => s.name == "extract.extract" && inTraced(s.id)).toDouble
    val rowsLoaded = traced.map(_.rows).sum.toDouble
    val landingScans = if (w.landingDir.isEmpty) Nil else scans.filter(_.path.contains(w.landingDir))
    val gap = traced.map { o =>
      val iv = jobs.filter(_._1 eq o).map { case (_, j) => (j.startMs * 1000000L, j.endMs * 1000000L) }
      (o.endNs - o.startNs - covered(iv, o.startNs, o.endNs)) / 1e6
    }.sum / n
    val uncovered = traced.map { o =>
      val kids = children.getOrElse(o.span, Nil).map(c => (c.startNs, c.endNs))
      (o.endNs - o.startNs - covered(kids, o.startNs, o.endNs)) / 1e6
    }.sum / n
    val skews = stages.map(_._2).filter(_.tasks >= 2).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, median(s.taskMs.map(_.toDouble).toSeq))
    }
    val untraced = ops.filterNot(_.traced)
    val cold = traced.filter(_.cold).map(_.ms)
    val warm = traced.filterNot(_.cold).map(_.ms)
    val isGraph = w.isInstanceOf[GraphLoops]
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    Seq(
      ("extract.get_ms", spanMs("extract.get"), "ms"),
      ("extract.watermark_put_ms", spanMs("extract.watermark_put"), "ms"),
      ("extract.extract_ms", spanMs("extract.extract"), "ms"),
      ("extract.load_ms", spanMs("extract.load"), "ms"),
      ("extract.source_scans_per_table_run", ratio(landingScans.size, tableRuns), "count"),
      ("extract.rows_scanned_per_row_loaded", ratio(landingScans.map(_.rows).sum, if (tableRuns > 0) rowsLoaded else 0), "ratio"),
      ("extract.files_read_per_cycle", landingScans.map(_.files).sum / n, "count"),
      ("tables.read_ms", spanMs("tables.read"), "ms"),
      ("tables.invalidate_ms", spanMs("tables.invalidate"), "ms"),
      ("ops.build_ms", spanMs("ops.build"), "ms"),
      ("ops.materialize_ms", spanMs("ops.materialize"), "ms"),
      ("graph.cold_op_ms", if (isGraph) median(cold) else 0.0, "ms"),
      ("graph.warm_op_ms", if (isGraph) median(warm) else 0.0, "ms"),
      ("catalyst.analysis_ms", qes.map(_._2.analysisMs).sum / n, "ms"),
      ("catalyst.optimization_ms", qes.map(_._2.optimizationMs).sum / n, "ms"),
      ("catalyst.planning_ms", qes.map(_._2.planningMs).sum / n, "ms"),
      ("scheduler.jobs_per_op", jobs.size / n, "count"),
      ("scheduler.stages_per_op", stages.size / n, "count"),
      ("scheduler.tasks_per_op", stages.map(_._2.tasks).sum / n, "count"),
      ("scheduler.driver_gap_ms_per_op", gap, "ms"),
      ("executor.run_ms_per_op", aggs.map(_.runMs).sum / n, "ms"),
      ("executor.cpu_ms_per_op", aggs.map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("executor.deser_ms_per_op", aggs.map(_.deserMs).sum / n, "ms"),
      ("executor.gc_ms_per_op", aggs.map(_.gcMs).sum / n, "ms"),
      ("executor.task_skew", median(skews), "ratio"),
      ("shuffle.write_bytes_per_op", aggs.map(_.shuffleWrite).sum / n, "bytes"),
      ("shuffle.read_bytes_per_op", aggs.map(_.shuffleRead).sum / n, "bytes"),
      ("storage.spill_bytes_per_op", aggs.map(_.spill).sum / n, "bytes"),
      ("storage.disk_mb_peak", t.diskPeak / 1048576.0, "MB"),
      ("storage.cache_peak_mb", t.memPeak / 1048576.0, "MB"),
      ("sink.first_load_s", firstLoadS, "s"),
      ("sink.bytes_per_row", extra.getOrElse("sink.bytes_per_row", 0.0), "bytes"),
      ("self.extract_ms", selfMs("extract."), "ms"),
      ("self.tables_ms", selfMs("tables."), "ms"),
      ("self.ops_ms", selfMs("ops."), "ms"),
      ("trace.uncovered_ms", uncovered, "ms"),
      // Cold ops fall on traced positions only, so both sides leave them out.
      ("trace.overhead_ms", median(warm) - median(untraced.filterNot(_.cold).map(_.ms)), "ms"))
  }

  /** Per-op ledger of the traced ops: name, latency, jobs, stages, tasks. */
  def ledger(ops: Seq[Op], t: Trace): Seq[String] = {
    val traced = ops.filter(_.traced)
    def at(ms: Long) = traced.indexWhere(o => o.startNs / 1000000L <= ms && ms <= o.endNs / 1000000L)
    val jobsAt = t.jobs.values.groupBy(j => at(j.startMs))
    val stagesAt = t.stages.values.groupBy(s => at(s.submittedMs))
    traced.indices.map { i =>
      val st = stagesAt.getOrElse(i, Nil)
      f"${traced(i).name}\t${traced(i).ms}%.1f\t${jobsAt.getOrElse(i, Nil).size}\t${st.size}\t${st.map(_.tasks).sum}"
    }
  }

  def summary(workload: String, ops: Seq[Op], firstLoadS: Double, setups: Seq[Double]): Seq[String] = {
    val lat = ops.map(_.ms)
    Seq(f"[perfbench] $workload: ${ops.size} ops, ${ops.count(!_.ok)} failed; op ms min ${lat.min}%.0f median ${median(lat)}%.0f max ${lat.max}%.0f",
      f"[perfbench] setups ${setups.map(s => f"$s%.2f").mkString(" ")} s; first load $firstLoadS%.2f s")
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
