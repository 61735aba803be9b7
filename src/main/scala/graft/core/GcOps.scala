package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.format._

/** Snapshot expiration + orphan-file garbage collection.
  *
  * The reference leaves this as future work — CoW delete keeps rewritten
  * files on disk "cleaned up by a separate garbage collection operation"
  * (`/root/reference/python/src/space/core/ops/delete.py:41-44`) that the
  * reference never ships. At 100 TB a table that is upserted daily grows
  * an unbounded tail of dead index files without it, so graft provides
  * the two standard maintenance ops (Iceberg-style semantics):
  *
  *  - [[expireSnapshots]] removes old snapshot ENTRIES from metadata
  *    (a metadata-only edit through [[Storage.mutate]]);
  *  - [[garbageCollect]] deletes files under the table root that no
  *    LIVE snapshot reaches (manifests, data files, change logs, stale
  *    metadata jsons), guarded by a minimum file age so in-flight
  *    writers — which stage young files before their commit — are never
  *    broken.
  *
  * Reachability roots, per live snapshot:
  *  - index + record manifest files;
  *  - every `_FILE` row of those manifests (data files);
  *  - the change-log file, and every file a change-log row set points at
  *    — a CoW delete's DELETE rows are read from the PRE-delete index
  *    file, which is no longer in any live manifest once its parent
  *    snapshot expires, yet `diff()` over the live range still needs it.
  *
  * External (zero-copy ingested) files live OUTSIDE the table root: the
  * candidate listing never sees them, so GC structurally cannot delete a
  * user's source data.
  *
  * Driver-side planning is O(total files) strings — the same scale class
  * as the reference's metadata planning; the deletes run on the
  * [[DriverPool]].
  */
object GcOps {

  final case class GcStats(deleted: Seq[String], kept: Long)

  /** Drop expirable snapshots older than `olderThanMs`, keeping
    * (a) every branch head (incl. main's current) and tagged snapshot,
    * (b) the `keepLast` most recent snapshots overall.
    * Returns the expired snapshot ids (ascending).
    *
    * Time travel / `diff()` to an expired snapshot fails afterwards with
    * "snapshot not found" — the data files shared with live snapshots
    * remain until [[garbageCollect]] finds them unreachable. A
    * materialized view must be refreshed past a source snapshot before
    * that source snapshot expires, or the MV needs a full recompute.
    */
  def expireSnapshots(
      storage: Storage,
      olderThanMs: Long,
      keepLast: Int = 1): Seq[Long] = storage.mutate { meta =>
    val cutoff = System.currentTimeMillis() - olderThanMs
    val protectedIds: Set[Long] =
      meta.refs.values.map(_.snapshotId).toSet + meta.currentSnapshotId
    val byRecency = meta.snapshots.values.toSeq.sortBy(-_.createTimeMs)
    val recent = byRecency.take(math.max(keepLast, 0)).map(_.snapshotId).toSet
    val expired = byRecency
      .filter(s => s.createTimeMs < cutoff &&
        !protectedIds.contains(s.snapshotId) && !recent.contains(s.snapshotId))
      .map(_.snapshotId)
    if (expired.isEmpty) (meta, Nil)
    else {
      val expiredSet = expired.toSet
      // re-parent survivors whose parent chain is cut so orderedSnapshotIds
      // over the LIVE range keeps working: skip over expired ancestors
      val remaining = meta.snapshots.collect {
        case (k, s) if !expiredSet.contains(s.snapshotId) =>
          var p = s.parentSnapshotId
          while (p.exists(expiredSet.contains))
            p = meta.snapshot(p.get).flatMap(_.parentSnapshotId)
          k -> s.copy(parentSnapshotId = p)
      }
      // manifest-list hygiene: drop summaries of manifests no live
      // snapshot references (their files are GC candidates now)
      val liveManifests = remaining.values.flatMap(
        _.manifestFiles.indexManifestFiles).toSet
      (meta.copy(
        snapshots = remaining,
        manifestSummaries = meta.manifestSummaries.filter {
          case (m, _) => liveManifests.contains(m)
        }), expired.sorted)
    }
  }

  /** Delete unreachable files under the table root older than
    * `minAgeMs`. Never touches files outside the root. Returns deleted
    * root-relative paths and the count of files kept. */
  def garbageCollect(
      spark: SparkSession,
      storage: Storage,
      minAgeMs: Long = 3600000L): GcStats = {
    storage.reload()
    val meta = storage.metadata
    val root = new Path(storage.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootStr = Path.getPathWithoutSchemeAndAuthority(
      fs.makeQualified(root)).toString

    val live = meta.snapshots.values.toSeq

    // ---- reachable set, as root-relative strings
    val manifestFiles = live.flatMap(s =>
      s.manifestFiles.indexManifestFiles ++ s.manifestFiles.recordManifestFiles).distinct
    val changeLogFiles = live.flatMap(_.changeLogFile).distinct
    // merge-on-read: every live snapshot's consolidated delete-vector
    // file is load-bearing (reads at that snapshot mask through it);
    // superseded DV files of expired snapshots become orphans here
    val dvFiles = live.flatMap(_.deleteVectorFile).distinct
    val changeLogRefs = changeLogFiles.flatMap { f =>
      val cl = MetadataJson.readChangeLog(storage.readString(f))
      (cl.addedRows ++ cl.deletedRows).map(_.file)
    }
    // data and record files listed by every live index and record
    // manifest (both carry `_FILE`), off the uncached driver loader
    val dataFiles: Seq[String] = ManifestIO.fileRowCounts(storage,
      spark.sparkContext.hadoopConfiguration, manifestFiles).map(_._1)

    val reachable: Set[String] =
      (manifestFiles ++ changeLogFiles ++ changeLogRefs ++ dataFiles ++ dvFiles ++
        Seq(StoragePaths.EntryPointFile,
          storage.metadataFile,
          s"${StoragePaths.MetadataDir}/commit.lock")).toSet

    // ---- candidates: every file currently under the table root
    val cutoff = System.currentTimeMillis() - minAgeMs
    val it = fs.listFiles(root, true)
    val candidates = Seq.newBuilder[(String, Long)] // (relative, modTime)
    while (it.hasNext) {
      val st = it.next()
      val abs = Path.getPathWithoutSchemeAndAuthority(st.getPath).toString
      if (abs.startsWith(rootStr + "/"))
        candidates += ((abs.drop(rootStr.length + 1), st.getModificationTime))
    }
    val all = candidates.result()
    val doomed = all.collect {
      case (rel, mod) if !reachable.contains(rel) && mod < cutoff => rel
    }

    DriverPool.parMap(doomed)(rel => fs.delete(new Path(root, rel), false))
    GcStats(doomed.sorted, all.size - doomed.size)
  }
}
