package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up (five times, the last one kept), warm-up,
  * a closed-loop timed section of at least `--seconds` seconds and
  * `minCycles` cycles, then untimed result checks. Prints one line
  * `REPORT <json>` on stdout with every metric and the host context.
  *
  * {{{
  * Main --workload trickle_dml --seed 1 --seconds 10 --trace 0 \
  *      --work <dir> [--spans <file>]
  * }}}
  */
object Main {
  /** Set-ups per run; the first also pays JVM and Spark warm-up, so the
    * median is taken over five. */
  val SetupRepeats = 5

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    require(Workload.names.contains(workload), s"unknown workload $workload")

    val load0 = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      // trickle upserts consolidate the manifest list, so it peaks at
      // four manifests after each append; at the default threshold (64)
      // the appends' self-pack would never run
      .config("spark.graft.manifest.autoPackManifests", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    val spans = opts.get("spans").map(new java.io.File(_))
    try run(spark, workload, seed, seconds, traced, work, spans, report)
    finally spark.stop()
    val load1 = loadAvg()
    report.note("host", mutable.LinkedHashMap[String, Any](
      "local_n" -> cores, "nproc" -> nproc,
      "load_avg_before" -> load0, "load_avg_after" -> load1,
      "overloaded" -> (math.max(load0, load1) > nproc),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "seed" -> seed, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version")))
    println("REPORT " + report.json)
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, work: java.io.File, spansFile: Option[java.io.File],
      report: Report): Unit = {
    val h = new Harness(spark, traced)
    Seq.fill(5)(h.reference()) // JIT-compile the reference before it counts
    // set-up, several times on fresh locations; the last one is kept.
    // Each is followed by host-speed samples, read against it below.
    val setups = (0 until SetupRepeats).map { i =>
      val w = Workload(name, spark, seed, new java.io.File(work, s"tables$i"))
      val t0 = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t0) / 1e9
      (s, Stats.median(Seq.fill(3)(h.reference())), w)
    }
    setups.init.foreach { case (_, _, w) => deleteTree(w.root) }
    val w = setups.last._3
    h.tables = w.tables
    var c = 0
    while (c < w.warmCycles) { h.cycle = c; w.cycle(h, c); c += 1 }
    h.recording = true
    h.resume()
    val firstTimed = c
    // space is measured (off the clock) where the op log is the same on
    // every run of a seed: right after the last of the minCycles cycles
    var spaceAmp = 0.0
    while (h.activeSeconds < seconds || c - firstTimed < w.minCycles) {
      h.cycle = c; w.cycle(h, c); c += 1
      if (c - firstTimed == w.minCycles) spaceAmp = h.untimed(spaceAmplification(spark, w, work))
    }
    h.pause()
    val active = h.activeSeconds
    System.gc(); System.gc()
    val heapMb = {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed.toDouble / (1 << 20)
    }
    val jobs = h.jobs()
    val tCheck = System.nanoTime()
    w.finalCheck(h)
    report.note("final_check_s", (System.nanoTime() - tCheck) / 1e9)

    val ops = h.ops.toSeq
    val failed = w.wrongOps.size + w.otherFailures
    report.note("workload", name)
    report.note("correct", failed == 0)
    report.note("attempted", ops.size)
    report.note("failed", failed)
    report.note("checks", w.checks)
    report.note("mismatches", w.mismatches.toSeq)
    report.note("timed_cycles", c - firstTimed)
    report.note("active_s", active)

    Metrics.endToEnd(report, ops, active, h.activeCpuSeconds, Stats.median(h.referenceMs.toSeq),
      setups.map(s => (s._1, s._2)), failed, spaceAmp, heapMb)
    if (traced) {
      val window = ops.filter(_.cycle < firstTimed + w.minCycles)
      Metrics.perLayer(report, window, ops, h, jobs, active)
      spansFile.foreach { f =>
        writeSpans(f, ops, jobs, h)
        report.note("spans_file", f.getPath)
      }
    }
    deleteTree(w.root)
  }

  /** Bytes under the workload's table locations, over the same live rows
    * written once as plain Parquet. */
  private def spaceAmplification(spark: SparkSession, w: Workload, work: java.io.File): Double = {
    val plain = new java.io.File(work, "plain")
    w.liveFrames.zipWithIndex.foreach { case (df, i) =>
      df.write.mode("overwrite").parquet(new java.io.File(plain, i.toString).getAbsolutePath)
    }
    def bytes(f: java.io.File): Long = TableProbe.listing(f)
      .collect { case (p, n) if !p.endsWith(".crc") && !p.endsWith("_SUCCESS") => n }.sum
    val table = bytes(w.root)
    val base = bytes(plain)
    deleteTree(plain)
    Stats.ratio(table.toDouble, base.toDouble)
  }

  private def writeSpans(out: java.io.File, ops: Seq[OpRec], jobs: Seq[JobRec],
      h: Harness): Unit = {
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try {
      ops.foreach { o =>
        pw.println(Json.render(mutable.LinkedHashMap[String, Any](
          "span" -> s"op-${o.id}", "name" -> o.cls, "kind" -> o.kind, "start_ms" -> o.startMs,
          "end_ms" -> o.endMs, "parent" -> s"cycle-${o.cycle}", "op" -> o.id,
          "ms" -> o.ms, "rows" -> o.rows, "arg" -> o.arg, "delta" -> h.deltas.get(o.id),
          "notes" -> h.notes.get(o.id))))
      }
      jobs.filter(_.op >= 0).foreach { j =>
        pw.println(Json.render(mutable.LinkedHashMap[String, Any](
          "span" -> s"job-${j.id}", "name" -> "spark_job", "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "parent" -> s"op-${j.op}", "op" -> j.op, "tasks" -> j.tasks,
          "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes)))
      }
    } finally pw.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}
