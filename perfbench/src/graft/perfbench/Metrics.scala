package graft.perfbench

import scala.collection.mutable

/** Turns the op log, the per-op table deltas and the Spark job records
  * into the end-to-end and per-layer metrics. */
object Metrics {
  /** Latency classes reported end to end. */
  val Kinds = Seq("write", "lookup", "scan", "refresh")

  /** The latency class each workload is mainly about. */
  val KeyKind = Map("trickle_dml" -> "write", "view_refresh" -> "refresh",
    "training_read" -> "lookup")

  /** Host-reference time (ms) that `setup_s` is scaled to: the typical
    * reference time on the 4-vCPU host where the baseline was taken. */
  val NominalRefMs = 30.0

  /** `setups`: (set-up seconds, host reference ms measured right after). */
  def endToEnd(r: Report, ops: Seq[OpRec], activeS: Double, cpuS: Double, refMs: Double,
      setups: Seq[(Double, Double)], failed: Long, spaceAmp: Double, heapMb: Double): Unit = {
    // set-up seconds at the nominal host speed: each set-up is scaled by
    // the host-speed reference taken right after it, so a neighbour that
    // slows the shared host does not read as slower set-up
    r.put("setup_s", Stats.median(setups.map { case (s, ref) => s * NominalRefMs / ref }), "s")
    r.put("setup_raw_s", Stats.median(setups.map(_._1)), "s")
    r.note("setup_runs_s", setups.map(_._1))
    r.note("setup_ref_ms", setups.map(_._2))
    r.put("ops_per_s", Stats.ratio(ops.size, activeS), "1/s")
    r.put("cpu_ms_per_op", Stats.ratio(cpuS * 1000, ops.size), "ms")
    // the same times in units of the host-speed reference of this run
    // (median of the samples taken between ops): a neighbour that slows
    // the shared host slows the reference in step, and the ratio stays
    r.put("host_ref_ms", refMs, "ms")
    r.put("op_time_norm", Stats.ratio(activeS * 1000 / math.max(ops.size, 1), refMs), "ref")
    r.put("cpu_time_norm", Stats.ratio(cpuS * 1000 / math.max(ops.size, 1), refMs), "ref")
    val tails = mutable.LinkedHashMap.empty[String, Any]
    def latency(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      r.put(s"${prefix}_p50_ms", Stats.median(xs), "ms")
      val (v, pct, n) = Stats.tail(xs)
      r.put(s"${prefix}_tail_ms", v, "ms")
      tails(s"${prefix}_tail_ms") = mutable.LinkedHashMap("percentile" -> pct, "samples" -> n)
    }
    Kinds.foreach(k => latency(k, ops.filter(_.kind == k).map(_.ms)))
    // per cycle, so a class that mixes cheap and costly ops (append vs
    // upsert) does not read as the median of a bimodal sample
    r.info.get("workload").map(_.toString).flatMap(KeyKind.get).foreach { k =>
      val keyMs = Stats.median(ops.filter(_.kind == k).groupBy(_.cycle).values
        .map(_.map(_.ms).sum).toSeq)
      r.put("key_ms_per_cycle", keyMs, "ms")
      r.put("key_time_norm", Stats.ratio(keyMs, refMs), "ref")
      r.note("key_kind", k)
    }
    r.note("tails", tails)
    r.put("error_rate", Stats.ratio(failed.toDouble, math.max(ops.size, 1).toDouble), "ratio")
    r.put("space_amp", spaceAmp, "ratio")
    r.put("retained_heap_mb", heapMb, "MB")
    r.note("ops_by_class", ops.groupBy(_.cls).map { case (k, v) => k -> v.size })
  }

  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  private def covered(lo: Long, hi: Long, spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total.toDouble
  }

  def perLayer(r: Report, window: Seq[OpRec], all: Seq[OpRec], h: Harness,
      jobs: Seq[JobRec], activeS: Double): Unit = {
    val jobsByOp = jobs.filter(_.op >= 0).groupBy(_.op)
    def opJobs(o: OpRec) = jobsByOp.getOrElse(o.id, Nil)
    // job time is the part of the op's wall interval some job covers;
    // the rest is the driver's own (self) time
    def jobMs(o: OpRec) = math.min(o.ms,
      covered(o.startMs, o.endMs, opJobs(o).map(j => (j.startMs, j.endMs))))
    def driverMs(o: OpRec) = math.max(0.0, o.ms - jobMs(o))
    def d(o: OpRec) = h.deltas.get(o.id)
    def note(o: OpRec, k: String) = h.notes.get(o.id).flatMap(_.get(k)).getOrElse(0.0)
    def of(kinds: String*) = window.filter(o => kinds.contains(o.kind))
    def cls(names: String*) = window.filter(o => names.contains(o.cls))
    def perOp(xs: Seq[OpRec], f: OpRec => Double) = Stats.ratio(xs.map(f).sum, xs.size)
    def p50(xs: Seq[OpRec]) = Stats.median(xs.map(_.ms))
    def n(name: String, v: Double, unit: String) = r.put(name, v, unit)

    // exec (Spark)
    n("exec.jobs_per_write", perOp(of("write"), opJobs(_).size), "count")
    n("exec.jobs_per_refresh", perOp(of("refresh"), opJobs(_).size), "count")
    n("exec.jobs_per_lookup", perOp(of("lookup"), opJobs(_).size), "count")
    n("exec.tasks_per_op", perOp(window, opJobs(_).map(_.tasks.toDouble).sum), "count")
    n("exec.job_ms_share", Stats.ratio(window.map(jobMs).sum, window.map(_.ms).sum), "ratio")
    n("exec.driver_ms_per_op", perOp(window, driverMs), "ms")
    n("exec.shuffle_bytes_per_op",
      perOp(window, opJobs(_).map(_.shuffleBytes.toDouble).sum), "B")
    n("exec.input_bytes_per_op", perOp(window, opJobs(_).map(_.inputBytes.toDouble).sum), "B")

    // plan (ReadOp, ManifestIO)
    val plans = cls("plan")
    val surviving = plans.map(o => note(o, "manifests_total") - note(o, "manifests_pruned")).sum
    val opens = plans.flatMap(d).map(_.manifestOpens.toDouble).sum
    n("plan.ms", p50(plans), "ms")
    n("plan.files_kept_ratio", Stats.ratio(plans.map(note(_, "files_kept")).sum,
      plans.map(note(_, "files_total")).sum), "ratio")
    n("plan.manifests_pruned_ratio", Stats.ratio(plans.map(note(_, "manifests_pruned")).sum,
      plans.map(note(_, "manifests_total")).sum), "ratio")
    n("plan.manifest_opens", Stats.ratio(opens, plans.size), "count")
    n("plan.manifest_cache_hit_ratio",
      if (surviving == 0) 0.0 else math.max(0.0, 1.0 - opens / surviving), "ratio")
    n("plan.driver_path_share", perOp(plans, note(_, "driver_path")), "ratio")
    val last = window.flatMap(d).lastOption
    n("plan.live_files", last.map(_.liveFilesAfter.toDouble).getOrElse(0.0), "count")
    n("plan.live_manifests", last.map(_.liveManifestsAfter.toDouble).getOrElse(0.0), "count")

    // commit (Storage)
    val commits = window.flatMap(d).map(_.newSnapshots).sum.toDouble
    n("commit.snapshots_per_op", Stats.ratio(commits, window.size), "count")
    n("commit.metadata_bytes_per_commit",
      Stats.ratio(window.flatMap(d).map(_.metaBytesNew.toDouble).sum, commits), "B")
    n("commit.metadata_files_per_commit",
      Stats.ratio(window.flatMap(d).map(_.metaFilesNew.toDouble).sum, commits), "count")
    n("commit.metadata_json_bytes",
      window.flatMap(d).lastOption.map(_.metadataJsonBytes.toDouble).getOrElse(0.0), "B")

    // write (AppendOp, RecordIO)
    val writes = of("write")
    Seq("append", "upsert", "delete", "update").foreach(c => n(s"write.${c}_ms", p50(cls(c)), "ms"))
    n("write.data_files_per_op", perOp(writes, d(_).map(_.dataFilesNew.toDouble).getOrElse(0.0)),
      "count")
    n("write.bytes_per_row_changed", Stats.ratio(writes.flatMap(d).map(_.dataBytesNew.toDouble).sum,
      writes.map(_.rows.toDouble).sum), "B")

    // dml (DmlOps, DeleteVectorOps)
    val dml = cls("upsert", "delete", "update")
    n("dml.files_rewritten_per_op", perOp(dml, d(_).map(_.filesRemoved.toDouble).getOrElse(0.0)),
      "count")
    n("dml.rows_rewritten_per_row_changed", Stats.ratio(
      dml.flatMap(d).map(_.rowsInAddedFiles.toDouble).sum, dml.map(_.rows.toDouble).sum), "ratio")
    n("dml.dv_share", perOp(dml, o => if (d(o).exists(_.dvAdded)) 1.0 else 0.0), "ratio")

    // views (AggregateView, JoinView)
    val aggs = cls("refresh_agg")
    val refreshes = of("refresh")
    n("refresh.agg_ms", p50(aggs), "ms")
    n("refresh.join_ms", p50(cls("refresh_join")), "ms")
    n("refresh.state_commits", perOp(refreshes, note(_, "state_commits")), "count")
    n("refresh.state_snapshots",
      perOp(refreshes, d(_).map(_.newSnapshots.toDouble).getOrElse(0.0)), "count")
    n("refresh.recomputed_groups",
      perOp(aggs, d(_).map(_.rowsInAddedFiles.toDouble).getOrElse(0.0)), "count")
    n("refresh.ms_per_delta_row", Stats.ratio(refreshes.map(_.ms).sum,
      refreshes.map(note(_, "delta_rows")).sum), "ms")
    val perCycle = all.filter(_.kind == "refresh").groupBy(_.cycle).toSeq.sortBy(_._1)
      .map(_._2.map(_.ms).sum)
    val q = math.max(1, perCycle.size / 4)
    n("refresh.growth", if (perCycle.isEmpty) 0.0
      else Stats.ratio(Stats.median(perCycle.takeRight(q)), Stats.median(perCycle.take(q))),
      "ratio")

    // ra (RandomAccess)
    val batches = cls("ra_batch")
    n("ra.open_ms", p50(cls("ra_open")), "ms")
    n("ra.batch_ms", p50(batches), "ms")
    n("ra.jobs_per_batch", perOp(batches, opJobs(_).size), "count")
    n("ra.bytes_per_s", Stats.ratio(batches.map(note(_, "bytes")).sum,
      batches.map(_.ms).sum / 1000.0), "B/s")

    // maint (CompactOp, GcOps, manifest self-pack)
    n("maint.compact_ms", p50(cls("compact")), "ms")
    n("maint.expire_ms", p50(cls("expire")), "ms")
    n("maint.gc_ms", p50(cls("gc")), "ms")
    n("maint.bytes_rewritten", cls("compact").flatMap(d).map(_.dataBytesNew.toDouble).sum, "B")
    n("maint.bytes_reclaimed", cls("gc").flatMap(d).map(_.dataBytesDeleted.toDouble).sum, "B")
    n("maint.autopacks", cls("append").flatMap(d).count(_.packed).toDouble, "count")

    // the traced run's own throughput, off the probe time (runner.py
    // compares it with untraced runs for the tracing overhead)
    n("trace.ops_per_s", Stats.ratio(all.size, activeS), "1/s")
    n("trace.window_ops", window.size.toDouble, "count")
    n("trace.window_jobs", window.map(opJobs(_).size.toDouble).sum, "count")

    r.note("trace_by_class", window.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, os) =>
      c -> mutable.LinkedHashMap[String, Any](
        "ops" -> os.size,
        "ms_per_op" -> perOp(os, _.ms),
        "driver_ms_per_op" -> perOp(os, driverMs),
        "job_ms_per_op" -> perOp(os, jobMs),
        "job_ms_share" -> Stats.ratio(os.map(jobMs).sum, os.map(_.ms).sum),
        "jobs_per_op" -> perOp(os, opJobs(_).size),
        "commits_per_op" -> perOp(os, d(_).map(_.newSnapshots.toDouble).getOrElse(0.0)),
        "data_files_per_op" -> perOp(os, d(_).map(_.dataFilesNew.toDouble).getOrElse(0.0)))
    }.to(mutable.LinkedHashMap))
    r.note("probe_s", h.probeNs / 1e9)
    r.note("unattributed_jobs", jobs.count(_.op < 0))
  }
}
