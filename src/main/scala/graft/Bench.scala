package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A warmup pass (flagship query) runs first so JVM/codegen/session
  * startup is not attributed to the first timed query; each query is
  * then timed end-to-end including its action (`count`). Storage-op
  * queries build real tables under /tmp as part of their timed work —
  * they measure the engine's write+commit+read path, not just the scan.
  */
object Bench {
  /** Fixed fsync+read microbench: 3 × (write 8 MiB, fsync, read back)
    * in java.io.tmpdir — the filesystem the storage queries commit to.
    * Returns (min ms, max ms). Run BEFORE and AFTER the query sweep so
    * a host suffering writeback stalls is detectable from the bench
    * artifact alone (BASELINE.md documents the healthy band): stalls
    * contaminated whole driver-bench rounds (r8/r9) and could only be
    * diagnosed by out-of-band reruns before this probe existed. */
  private def hostProbe(): (Double, Double) = {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val buf = new Array[Byte](8 * 1024 * 1024)
    new java.util.Random(42).nextBytes(buf)
    val times = (1 to 3).map { _ =>
      val f = java.nio.file.Files.createTempFile(dir, "graft_probe_", ".bin")
      try {
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(
          f, java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true) }
        finally ch.close()
        val back = java.nio.file.Files.readAllBytes(f)
        require(back.length == buf.length, "probe readback truncated")
        (System.nanoTime() - t0) / 1e6
      } finally java.nio.file.Files.deleteIfExists(f)
    }
    (times.min, times.max)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(32, "graft-bench")

    // warmup: session + codegen + parquet reader paths; also one dedup
    // query so the first timed dedup query doesn't absorb the one-time
    // janino compilation of the shingle/minhash expression pipeline
    // (steady-state is what the per-query numbers claim to measure)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    try SparkEntry.queries("d_dedup_minhash")(spark, sfDir).count() catch { case _: Throwable => }

    val (probeBeforeMin, probeBeforeMax) = hostProbe()

    // One full query sweep. A failed query must NOT record a bogus fast
    // time (round 4: seven broken queries benched as ~0s and nobody
    // noticed) — it goes in an "errors" map instead and is excluded
    // from per-query timings/total.
    def sweep(): (Seq[(String, Double)], scala.collection.mutable.LinkedHashMap[String, String]) = {
      val errors = scala.collection.mutable.LinkedHashMap[String, String]()
      val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        // Each query is timed self-contained: drop blocks persisted by
        // the PREVIOUS queries first (dedup/LSH pipelines persist
        // signature frames), so a later storage query doesn't pay their
        // LRU-eviction churn and a query's own persists still count
        // inside its time.
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(name) =
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            System.err.println(s"[bench] $name FAILED — ${errors(name)}")
            None
        }
      }
      (results, errors)
    }

    // Per-query MINIMA across this invocation's repeated sweeps: host
    // IO stalls randomly spike 1-3 queries per run 3-6×, so a single
    // run's times are not judgeable — a real regression reproduces in
    // the minimum, a stall never does. The entrypoint runs GRAFT_REPEAT
    // (default 3) sweeps so the one emitted line natively carries
    // runs_observed ≥ 3 (VERDICT r10's "driver bench self-minima"). No
    // minimum carries over between invocations: a cross-run history
    // invented speedups on unchanged code and mixed core counts
    // (VERDICT r17). A query that FAILED in the LAST sweep must not
    // surface a healthy-looking earlier minimum (the round-4 trap):
    // errored queries are excluded from the emitted minima.
    val repeat = {
      val raw = sys.env.getOrElse("GRAFT_REPEAT", "3")
      // fail with the env var name on garbage — a bare .toInt threw an
      // opaque NumberFormatException (same keyed-error rule as the
      // dvMaxFraction / cluster.mergeFraction conf validation)
      val v = try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"GRAFT_REPEAT must be a positive integer, got '$raw'")
      }
      math.max(1, v)
    }
    var last: (Seq[(String, Double)], scala.collection.mutable.LinkedHashMap[String, String]) = null
    var minTimes = Map.empty[String, Double]
    val sweepProbes = Seq.newBuilder[Double]
    for (i <- 1 to repeat) {
      last = sweep()
      minTimes = last._1.foldLeft(minTimes) { case (m, (k, v)) =>
        m.updated(k, m.get(k).fold(v)(math.min(_, v)))
      }
      // a per-sweep probe timestamping each run's IO health — a stall
      // window is attributable to the sweep it contaminated
      val (pMin, _) = hostProbe()
      sweepProbes += pMin
      System.err.println(f"[bench] sweep $i/$repeat total ${last._1.map(_._2).sum}%.1f s " +
        f"(probe min $pMin%.1f ms)")
    }
    val (results, errors) = last

    def jstr(s: String): String = graft.format.Jsons.escape(s)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val mins = (minTimes -- errors.keys).toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // 1-minute load average BEFORE this JVM's own work is long gone, but
    // load at end-of-run still flags a contaminated box (r03+r04 both
    // shipped driver bench artifacts skewed by concurrent machine load).
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val (probeAfterMin, probeAfterMax) = hostProbe()
    val probe = s"""{"before_min_ms":$probeBeforeMin,"before_max_ms":$probeBeforeMax,""" +
      s""""after_min_ms":$probeAfterMin,"after_max_ms":$probeAfterMax,""" +
      s""""per_sweep_min_ms":${sweepProbes.result().mkString("[", ",", "]")}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""min_times":$mins,"runs_observed":$repeat,"repeat":$repeat,""" +
      s""""errors":$errs,"load_avg_1m":$load,"host_probe":$probe,"sf":"$sfDir"}""")
    spark.stop()
  }
}
