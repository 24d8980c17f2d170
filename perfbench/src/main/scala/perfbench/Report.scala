package perfbench

/** Turns the run's op records into the benchmark's metrics. */
final class Report(runner: Runner, warm: Seq[Rec], timedS: Double) {
  private val timed = runner.recs.filter(_.round > 0).toSeq
  private val reads = timed.filter(r => r.ok && !r.op.write)
  private val writes = timed.filter(r => r.ok && r.op.write)
  private def ms(xs: Seq[Rec]) = xs.map(_.wallMs)

  /** End-to-end metrics every workload reports. */
  def endToEnd(setupS: Double, st: Storage): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "latency_gmean_ms" -> Stats.geomean(ms(reads)),
    "latency_p50_ms" -> Stats.median(ms(reads)),
    "read_ops" -> reads.size.toDouble,
    "ops_per_s" -> timed.count(_.ok) / timedS,
    "error_rate" -> timed.count(!_.ok).toDouble / math.max(1, timed.size),
    "cache_mb" -> st.usedMb) ++
    // a tail percentile only where the sample holds ten beyond it
    Stats.tail(ms(reads)).map { case (q, v) => s"latency_p${(q * 100).round}_ms" -> v }

  /** Execution counters summed over the ops of one seeded round, so two
    * runs of one seed compare op for op (`check_repeat.py`). */
  def countsOfRound(round: Int): Map[String, Long] = {
    val rs = runner.recs.filter(_.round == round)
    val ex = rs.flatMap(_.exec)
    Map("round" -> round.toLong, "ops" -> rs.size.toLong, "rows" -> rs.map(_.rows).sum) ++
      (if (ex.isEmpty) Map.empty else Map(
        "exec.jobs" -> ex.map(_.jobs).sum, "exec.stages" -> ex.map(_.stages).sum,
        "exec.tasks" -> ex.map(_.tasks).sum))
  }

  /** Per-layer metrics of a traced run: (value, unit). A layer this
    * workload never calls reports 0 (its work here is none). */
  def perLayer(localS: Double, attachS: Double, firstResultS: Double,
      stampMs: Seq[Double], st: Storage, gcMs: Long, blocksDropped: Long,
      visibleMs: Seq[Double], extra: Map[String, Double], tracer: Tracer,
      cores: Int, countsRound: Int, pairs: Seq[(Rec, Rec)]): Map[String, (Double, String)] = {
    val traced = timed.filter(r => r.traced && r.ok)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    // spans of the timed rounds' ops (not warm-up, not the overhead pairs)
    val tracedOps = traced.map(_.seq).toSet
    val spans = tracer.spans.filter(s => tracedOps(s.op)).toSeq
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)

    put("GraftSession.local_s", localS, "s")
    put("GraftSession.attach_s", attachS, "s")
    put("first_result_s", firstResultS, "s")
    // cold build per op kind: warm-up (first, cold) call minus its warm p50
    val warmP50 = traced.groupBy(_.op.kind).map { case (k, rs) => k -> p50(ms(rs)) }
    warm.filter(_.ok).groupBy(_.op.kind).foreach { case (k, rs) =>
      put(s"$k.cold_ms", math.max(0.0, rs.head.wallMs - warmP50.getOrElse(k, 0.0)), "ms")
    }
    put("SessionDirCache.stamp_ms", p50(stampMs), "ms")
    put("facade.call_ms", p50(traced.map(_.callMs)), "ms")
    traced.groupBy(_.op.kind).foreach { case (k, rs) =>
      put(s"$k.p50_ms", p50(ms(rs)), "ms")
      rs.flatMap(_.exec).map(_.jobs.toDouble) match {
        case js if js.nonEmpty => put(s"$k.jobs", p50(js), "count")
        case _ => ()
      }
    }
    for (ph <- Seq("analysis", "optimization", "planning"))
      put(s"catalyst.${ph}_ms", p50(traced.filter(_.phases.nonEmpty).map(_.phases.getOrElse(ph, 0.0))), "ms")
    // execution counters over one whole seeded round, so counts repeat
    val ex = traced.filter(_.round == countsRound).flatMap(_.exec)
    val mb = 1024.0 * 1024.0
    put("exec.jobs", ex.map(_.jobs).sum.toDouble, "count")
    put("exec.stages", ex.map(_.stages).sum.toDouble, "count")
    put("exec.tasks", ex.map(_.tasks).sum.toDouble, "count")
    put("exec.task_run_s", ex.map(_.runMs).sum / 1e3, "s")
    put("exec.task_cpu_s", ex.map(_.cpuNs).sum / 1e9, "s")
    put("exec.gc_s", ex.map(_.gcMs).sum / 1e3, "s")
    put("exec.shuffle_read_mb", ex.map(_.shuffleRead).sum / mb, "MB")
    put("exec.shuffle_write_mb", ex.map(_.shuffleWrite).sum / mb, "MB")
    put("exec.spill_mb", ex.map(_.spill).sum / mb, "MB")
    put("exec.input_mb", ex.map(_.input).sum / mb, "MB")
    put("exec.output_mb", ex.map(_.output).sum / mb, "MB")
    val wallSum = traced.map(_.wallMs).sum
    val runMs = traced.flatMap(_.exec).map(_.runMs).sum
    put("exec.busy_ratio", if (wallSum == 0) 0.0 else runMs / (wallSum * cores), "ratio")
    put("driver.gap_ms", p50(traced.flatMap(r => r.exec.map(e => r.wallMs - e.jobUnionMs))), "ms")
    put("storage.mem_mb", st.memMb, "MB")
    put("storage.disk_mb", st.diskMb, "MB")
    put("storage.blocks_evicted", blocksDropped.toDouble, "count")
    val scans = traced.map(_.allScans).sum
    put("cache.inmem_scan_ratio", if (scans == 0) 0.0 else traced.map(_.inMemScans).sum.toDouble / scans, "ratio")
    put("jvm.gc_ms", gcMs.toDouble, "ms")
    put("error_rate", timed.count(!_.ok).toDouble / math.max(1, timed.size), "ratio")
    put("SessionDirCache.rebuild_ms",
      p50(spans.filter(_.name == "SessionDirCache.rebuild").map(_.dur)), "ms")
    put("visible_p50_ms", p50(visibleMs), "ms")
    put("write_p50_ms", p50(ms(writes)), "ms")
    Stats.tail(ms(writes)).foreach { case (q, v) => put(s"write_p${(q * 100).round}_ms", v, "ms") }
    extra.foreach { case (k, v) => put(k, v, Report.units(k)) }
    // layer spans around the public calls
    spans.groupBy(_.name)
      .filter { case (n, _) => n.startsWith("VectorStore.") || n.startsWith("Pipeline.") }
      .foreach { case (n, ss) => put(s"${n}_ms", p50(ss.map(_.dur)), "ms") }
    // CypherLite: compile (the public call returns the compiled plan) and execution
    val cy = traced.filter(r => Set("search.CYPHER", "search.NATURAL_LANGUAGE")(r.op.kind))
    put("CypherLite.run_ms", p50(cy.map(_.callMs)), "ms")
    put("CypherLite.exec_ms", p50(cy.map(_.collectMs)), "ms")
    // the per-op sum check: call + optimization + planning + jobs in the collect ≈ wall
    val checked = traced.filter(_.phases.nonEmpty)
    put("sumcheck.violations", checked.count(r => !Report.sumsToWall(r)).toDouble, "count")
    put("sumcheck.ops", checked.size.toDouble, "count")
    put("sumcheck.unexplained_p50_ms", p50(checked.map(Report.unexplainedMs)), "ms")
    // tracing overhead on identical work: each pair is one read run bare and traced
    val ok = pairs.filter { case (b, t) => b.ok && t.ok }
    put("trace.overhead_ms", p50(ok.map { case (b, t) => t.wallMs - b.wallMs }), "ms")
    put("trace.overhead_ratio", if (ok.isEmpty) 0.0
      else Stats.geomean(ok.map { case (b, t) => t.wallMs / b.wallMs }) - 1.0, "ratio")
    m.toMap
  }
}

object Report {
  /** Tolerance of the per-op sum check. */
  val SumTolMs = 5.0
  val SumTolShare = 0.05

  /** Op wall minus its layers: the public call, Catalyst optimization
    * and planning (forced before the collect), and the Spark jobs that
    * ran inside the collect. What is left is driver time no layer
    * explains (e.g. adaptive re-planning between a collect's jobs). */
  def unexplainedMs(r: Rec): Double =
    r.wallMs - (r.callMs + r.phases.getOrElse("optimization", 0.0) +
      r.phases.getOrElse("planning", 0.0) + r.collectExecMs)

  def sumsToWall(r: Rec): Boolean =
    math.abs(unexplainedMs(r)) <= math.max(SumTolMs, SumTolShare * r.wallMs)

  def units(k: String): String =
    if (k == "ops_per_s") "1/s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio") || k == "error_rate" || k == "store_amp") "ratio"
    else if (k.endsWith("per_point")) "B"
    else if (k.endsWith("per_result")) "rows"
    else "count"
}
