package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.core.{ManifestIO, Storage}

/** One timed call into the engine. `kind` is the end-to-end latency
  * class it counts toward (write, lookup, scan, refresh, plan, maint,
  * open); `cls` is the op class the trace reports (append, upsert, ...).
  * `rows` is the number of rows the op changes or touches; `arg` is a
  * fingerprint of the op's generated inputs (keys, ranges). */
final case class OpRec(id: Int, cycle: Int, cls: String, kind: String,
    startMs: Long, endMs: Long, ms: Double, rows: Long, arg: Long)

/** Spark job as seen by the benchmark's listener. `op` is the id of the
  * benchmark op whose thread submitted it (-1 outside any op). */
final case class JobRec(id: Int, op: Int, startMs: Long, endMs: Long,
    tasks: Int, shuffleBytes: Long, inputBytes: Long)

/** Counts each Spark job against the op that submitted it, via a local
  * property set on the client thread for the duration of the op. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val op: Int, val start: Long) {
    var end = -1L; var tasks = 0; var shuffle = 0L; var input = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new Acc(e.jobId, op, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  def snapshot(): Seq[JobRec] = synchronized {
    jobs.values.map(j => JobRec(j.id, j.op, j.start, math.max(j.end, j.start),
      j.tasks, j.shuffle, j.input)).toSeq
  }
}

/** State of one table that the traced run diffs around each op: the
  * per-layer counts (files, bytes, snapshots, manifests) come from these
  * deltas, read through public metadata and plain directory listings. */
final case class TableProbe(
    snapshots: Set[Long],
    liveFiles: Map[String, Long],
    manifests: Int,
    dvFile: Option[String],
    dataFiles: Map[String, Long],
    metaFiles: Map[String, Long],
    metadataJsonBytes: Long)

object TableProbe {
  def listing(dir: java.io.File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else out += f.getPath -> f.length()
      walk(dir)
      out.result()
    }

  def apply(spark: SparkSession, storage: Storage): TableProbe = {
    storage.reload()
    val meta = storage.metadata
    val snap = meta.currentSnapshot
    val ms = snap.manifestFiles.indexManifestFiles
    val fIdx = ManifestIO.manifestSchema(storage).fieldIndex(ManifestIO.FileCol)
    val nIdx = ManifestIO.manifestSchema(storage).fieldIndex(ManifestIO.NumRowsCol)
    val live = ManifestIO.readIndexManifestRowsDriver(storage,
      spark.sparkContext.hadoopConfiguration, ms)
      .map { case (_, r) => r.getString(fIdx) -> r.getLong(nIdx) }.toMap
    val root = storage.location match {
      case l if l.startsWith("file:") => new java.io.File(new java.net.URI(l).getPath)
      case l => new java.io.File(l)
    }
    TableProbe(
      meta.snapshots.values.map(_.snapshotId).toSet,
      live, ms.size, snap.deleteVectorFile,
      listing(new java.io.File(root, "data")),
      listing(new java.io.File(root, "metadata")),
      new java.io.File(root, storage.metadataFile).length())
  }
}

/** Per-op difference of the probes of every table the op may touch. */
final case class OpDelta(
    newSnapshots: Int,
    filesRemoved: Int,
    rowsInAddedFiles: Long,
    dvAdded: Boolean,
    dataFilesNew: Int,
    dataBytesNew: Long,
    dataBytesDeleted: Long,
    metaFilesNew: Int,
    metaBytesNew: Long,
    manifestOpens: Long,
    liveFilesAfter: Long,
    liveManifestsAfter: Long,
    metadataJsonBytes: Long,
    /** index manifests went DOWN although the op committed: a pack ran */
    packed: Boolean)

object OpDelta {
  def apply(before: Seq[TableProbe], after: Seq[TableProbe], opens: Long): OpDelta = {
    val pairs = before.zip(after)
    def sumI(f: (TableProbe, TableProbe) => Int) = pairs.map(f.tupled).sum
    def sumL(f: (TableProbe, TableProbe) => Long) = pairs.map(f.tupled).sum
    OpDelta(
      sumI((b, a) => (a.snapshots -- b.snapshots).size),
      sumI((b, a) => (b.liveFiles.keySet -- a.liveFiles.keySet).size),
      sumL((b, a) => (a.liveFiles -- b.liveFiles.keySet).values.sum),
      pairs.exists { case (b, a) => a.dvFile.isDefined && a.dvFile != b.dvFile },
      sumI((b, a) => (a.dataFiles.keySet -- b.dataFiles.keySet).size),
      sumL((b, a) => (a.dataFiles -- b.dataFiles.keySet).values.sum),
      sumL((b, a) => (b.dataFiles -- a.dataFiles.keySet).values.sum),
      sumI((b, a) => (a.metaFiles.keySet -- b.metaFiles.keySet).size),
      sumL((b, a) => (a.metaFiles -- b.metaFiles.keySet).values.sum),
      opens,
      after.map(_.liveFiles.size.toLong).sum,
      after.map(_.manifests.toLong).sum,
      after.map(_.metadataJsonBytes).sum,
      pairs.exists { case (b, a) =>
        (a.snapshots -- b.snapshots).size >= 2 && a.manifests < b.manifests })
  }
}

/** Closed-loop driver for one client thread. Times each op, keeps an
  * "active" clock that stops while the benchmark checks results or
  * probes tables, and in traced mode diffs table probes around each op
  * and attributes Spark jobs to it. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val deltas = mutable.HashMap.empty[Int, OpDelta]
  val listener: Option[JobListener] =
    if (traced) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  /** Tables whose probes the traced run diffs around every op. */
  var tables: Seq[Storage] = Nil
  var cycle = 0
  /** Ops are only recorded while true (false during warm-up). */
  var recording = false
  private var nextId = 0

  private var activeNs = 0L
  private var since = -1L
  // CPU time of the whole process (client, Spark tasks, GC, JIT) while
  // the clock runs; unlike wall time it excludes time the host's other
  // tenants take from this machine's CPUs
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var activeCpuNs = 0L
  private var cpuSince = 0L
  def resume(): Unit = if (since < 0) { since = System.nanoTime(); cpuSince = os.getProcessCpuTime }
  def pause(): Unit = if (since >= 0) {
    activeNs += System.nanoTime() - since
    activeCpuNs += os.getProcessCpuTime - cpuSince
    since = -1
  }
  def activeSeconds: Double =
    (activeNs + (if (since >= 0) System.nanoTime() - since else 0L)) / 1e9
  /** Process CPU seconds while the clock ran (read after the timed section). */
  def activeCpuSeconds: Double = activeCpuNs / 1e9
  var probeNs = 0L

  /** True while a whole-table check runs (its failures belong to no op). */
  var inCheck = false
  def checking[T](body: => T): T = untimed {
    inCheck = true
    try body finally inCheck = false
  }

  /** Per-op annotations (plan stats, refresh counts, bytes fetched). */
  val notes = mutable.HashMap.empty[Int, mutable.Map[String, Double]]
  def noteLast(k: String, v: Double): Unit =
    ops.lastOption.filter(_ => recording).foreach(o =>
      notes.getOrElseUpdate(o.id, mutable.Map.empty)(k) = v)

  /** Runs `body` off the active clock (result checks, probes). */
  def untimed[T](body: => T): T = {
    val running = since >= 0
    pause()
    try body finally if (running) resume()
  }

  def op[T](cls: String, kind: String, rows: Long = 0L, arg: Long = 0L)(body: => T): T = {
    val id = nextId
    nextId += 1
    val probe = traced && recording
    val before = if (probe) untimed(timedProbe(tables.map(TableProbe(spark, _)))) else Nil
    val opens0 = ManifestIO.manifestParquetOpens
    spark.sparkContext.setLocalProperty(Harness.OpKey, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally spark.sparkContext.setLocalProperty(Harness.OpKey, null)
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    val opens = ManifestIO.manifestParquetOpens - opens0
    untimed(referenceSample())
    if (recording) {
      ops += OpRec(id, cycle, cls, kind, wall0, wall1, (t1 - t0) / 1e6, rows, arg)
      if (probe) {
        val after = untimed(timedProbe(tables.map(TableProbe(spark, _))))
        deltas(id) = OpDelta(before, after, opens)
      }
    }
    out
  }

  /** Host speed: milliseconds of a fixed single-threaded computation
    * (sorting a seeded 2^18-long array), taken off the clock after every
    * op, so a run's latencies can be read against the speed the host
    * gave it while they were measured. */
  val referenceMs = mutable.ArrayBuffer.empty[Double]
  private val referenceInput = Array.tabulate(1 << 18)(i => Gen.mix(i.toLong))
  private def referenceSample(): Unit = {
    val ms = reference()
    if (recording) referenceMs += ms
  }

  /** One host-speed sample, in milliseconds. */
  def reference(): Double = {
    val a = referenceInput.clone()
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    val ms = (System.nanoTime() - t0) / 1e6
    if (a(a.length / 2) == Long.MinValue) 0.0 else ms
  }

  private def timedProbe[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally probeNs += System.nanoTime() - t0
  }

  def jobs(): Seq[JobRec] = listener.fold(Seq.empty[JobRec]) { l =>
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    l.snapshot()
  }
}

object Harness {
  val OpKey = "perfbench.op"
}
