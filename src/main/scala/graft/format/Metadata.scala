package graft.format

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Persisted metadata model of the graft table format.
  *
  * Mirrors the reference's open-table-format metadata
  * (`/root/reference/python/src/space/core/proto/metadata.proto:39-191`):
  * an entrypoint file points at the current immutable metadata file; each
  * commit writes a new metadata file embedding the full snapshot history,
  * named refs (tags/branches), and per-snapshot manifest-file lists.
  * Persistence is JSON instead of text-protobuf — a faithful swap with no
  * proto toolchain requirement (SURVEY.md §1.4).
  *
  * All paths are RELATIVE to the table root so a table directory can be
  * moved/copied wholesale (reference docs/design.md:25-27).
  */
final case class StorageStatistics(
    numRows: Long = 0L,
    indexCompressedBytes: Long = 0L,
    indexUncompressedBytes: Long = 0L,
    recordUncompressedBytes: Long = 0L) {
  def +(o: StorageStatistics): StorageStatistics = StorageStatistics(
    numRows + o.numRows,
    indexCompressedBytes + o.indexCompressedBytes,
    indexUncompressedBytes + o.indexUncompressedBytes,
    recordUncompressedBytes + o.recordUncompressedBytes)
  def -(o: StorageStatistics): StorageStatistics = StorageStatistics(
    numRows - o.numRows,
    indexCompressedBytes - o.indexCompressedBytes,
    indexUncompressedBytes - o.indexUncompressedBytes,
    recordUncompressedBytes - o.recordUncompressedBytes)
}

/** Manifest-file lists of one snapshot. The snapshot embeds the FULL list
  * (as in metadata.proto:135-141); the Iceberg-style manifest-LIST level
  * lives in [[StorageMetadata.manifestSummaries]]: per-manifest min/max
  * summaries that let planning prune whole manifests without opening
  * them. */
final case class ManifestFiles(
    indexManifestFiles: List[String] = Nil,
    recordManifestFiles: List[String] = Nil)

/** Min/max of one stats column across EVERY file of one manifest,
  * string-encoded with the column's external `toString` (Long/Int/
  * Float/Double round-trip exactly; strings are identity) and decoded
  * against the schema type at planning time — JSON-safe without typed
  * unions. */
final case class SummaryStats(min: String, max: String)

/** The manifest-list entry of one index manifest: how many files it
  * lists and, per stats column (PHYSICAL field name), the range covering
  * all of them. A column appears ONLY when every file in the manifest
  * carries its stats — a single unknown file makes the manifest
  * unprunable on that column (soundness). */
final case class ManifestSummary(
    numFiles: Long,
    stats: Map[String, SummaryStats] = Map.empty)

final case class Snapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    createTimeMs: Long,
    manifestFiles: ManifestFiles,
    storageStatistics: StorageStatistics,
    /** Relative path of this snapshot's change log (metadata.proto:108-111). */
    changeLogFile: Option[String],
    /** Relative path of this snapshot's CONSOLIDATED delete-vector file
      * (merge-on-read DML, beyond the reference): one JSON document
      * listing, per data file carrying soft-deleted rows, the
      * RoaringBitmap of dead row positions. Absent (the common steady
      * state — copy-on-write default, and compaction folds vectors in)
      * means every manifest-listed row is live. Consolidation per
      * snapshot makes time travel exact: a read at snapshot S applies
      * exactly S's vectors. */
    deleteVectorFile: Option[String] = None,
    /** The exactly-once writer tag this snapshot committed under, if
      * any. [[StorageMetadata.txnVersions]] keeps only the high-water
      * mark per appId; recording the tag PER SNAPSHOT lets a replaying
      * writer find exactly WHAT its own (appId, version) commit added —
      * the changelog of this snapshot — instead of approximating it
      * from the redelivered batch (which can over-exclude rows an
      * earlier batch admitted). Absent in pre-existing metadata (json4s
      * default) — replay exclusion then degrades to empty, which only
      * re-verifies, never re-admits. */
    txn: Option[TxnTag] = None,
    /** LAYOUT EPOCH: the bucket-layout generation this snapshot's files
      * follow. Inherited from the parent snapshot on every normal
      * commit; a `rebucket` (which rewrites every file) stamps its own
      * new snapshot id. Layout claims (bucket pruning, storage-
      * partitioned-join reporting) engage ONLY when a snapshot's epoch
      * equals [[StorageMetadata.currentBucketLayoutId]] — raw
      * snapshot-id comparison against a watermark is NOT lineage-safe
      * across branches (a side branch forked before a rebucket keeps
      * committing old-layout files under ids above the watermark).
      * 0 for tables that never re-bucketed (json4s default — legacy
      * snapshots parse as epoch 0, matching a never-rebucketed current
      * epoch of 0). */
    bucketLayoutId: Long = 0L)

object SnapshotRef {
  val Tag = "TAG"
  val Branch = "BRANCH"
  /** The implicit main branch: commits move `currentSnapshotId`. */
  val MainBranch = "main"
}

final case class SnapshotRef(name: String, refType: String, snapshotId: Long)

/** A retired bucket layout (see [[StorageMetadata.bucketLayoutHistory]]):
  * physical column names, per-column counts (empty = legacy single
  * hash), flat bucket count, and each column's `catalogString` type at
  * the time the layout was retired. */
final case class BucketLayoutSpec(
    columns: List[String],
    counts: List[Int],
    numBuckets: Int,
    columnTypes: List[String])

object TableType {
  val Dataset = "DATASET"
  val MaterializedView = "MATERIALIZED_VIEW"
}

final case class StorageMetadata(
    createTimeMs: Long,
    lastUpdateTimeMs: Long,
    tableType: String,
    /** Spark StructType JSON (logical schema, record fields at their user types). */
    schemaJson: String,
    primaryKeys: List[String],
    recordFields: List[String],
    /** Extra non-key columns carrying per-file min/max manifest stats
      * (beyond the reference, which keeps stats for PKs only): lets
      * manifest pruning falsify filters on e.g. dates or categories —
      * the difference between scanning 100 TB and one partition's worth
      * when the workload filters on a non-key column. */
    statsFields: List[String] = Nil,
    /** Extra NON-KEY columns whose data files carry parquet bloom
      * filters (primary keys always do — AppendOp). Blooms answer point
      * predicates on an arbitrary layout: the planner drops whole files
      * whose blooms prove a `=`/`IN` value absent (BloomPruning), and
      * Spark's parquet reader skips row groups inside surviving files.
      * Write-side only — absent blooms never affect correctness. */
    bloomColumns: List[String] = Nil,
    /** Highest committed version per writer appId (exactly-once sinks;
      * see [[TxnTag]]). */
    txnVersions: Map[String, Long] = Map.empty,
    /** Logical column renames: PHYSICAL (as-written) name → current
      * logical name (column-mapping "name mode"). Data files, manifests,
      * and every internal op keep physical names forever; renames apply
      * only at the user-facing SpaceDataset/SQL boundary, so RENAME
      * COLUMN is metadata-only and never rewrites a byte of data. */
    renames: Map[String, String] = Map.empty,
    /** NESTED logical renames: full PHYSICAL dotted path of a struct
      * member (every step an as-written name, e.g. `meta.band_f7`) →
      * its current logical LEAF name. Keys are all-physical so they stay
      * stable when an ancestor is renamed; the same boundary that
      * applies [[renames]] applies these recursively. */
    nestedRenames: Map[String, String] = Map.empty,
    /** High-water mark of assigned field ids. Ids are NEVER reused, even
      * after DROP COLUMN — a recycled id would alias the dropped
      * column's manifest stats (`_STATS_f<id>`) and file data onto the
      * new field. -1 = legacy metadata; derive from the schema. */
    maxFieldId: Int = -1,
    /** Physical names ever dropped: top-level names, plus full physical
      * dotted paths for dropped STRUCT MEMBERS. A column later ADDed
      * under such a name (or path) gets a GENERATED physical name
      * (`name_f<id>`) + a rename entry, so name-based parquet reads can
      * never resurrect the dropped column's bytes from old files. */
    droppedColumns: List[String] = Nil,
    /** Hash-bucket layout (empty = unbucketed). Every write shuffles
      * rows to `pmod(murmur3(bucketColumns), numBuckets)` and encodes
      * the bucket in the FILE NAME (`index_b<k>_<uuid>.parquet`, the
      * Hive/Spark-bucketing convention), so two tables bucketed the same
      * way join bucket-to-bucket with ZERO shuffle (storage-partitioned
      * join through the SQL catalog) and point lookups touch one
      * bucket's files. */
    bucketColumns: List[String] = Nil,
    numBuckets: Int = 0,
    /** PER-COLUMN bucket counts (aligned with [[bucketColumns]]; empty =
      * the legacy single-hash layout). When set, each row's bucket is
      * the TUPLE (pmod(murmur3(c1), n1), …) flattened row-major into the
      * file-name id, and the SQL scan reports one single-leaf
      * `bucket(nᵢ, cᵢ)` transform per column — the only shape Spark's
      * storage-partitioned join machinery matches for MULTI-column
      * joins (its numBuckets folding is single-reference-only,
      * V2ExpressionUtils). `numBuckets` stays the product, so flat
      * file-name ids, compaction grouping, and bucket-count bounds are
      * unchanged. Partial benefit beyond SPJ: a filter pinning ANY
      * subset of the bucket columns prunes its dimensions. */
    bucketCounts: List[Int] = Nil,
    /** First snapshot whose data files follow the CURRENT bucket layout
      * (`bucketColumns`/`numBuckets`/`bucketCounts`). 0 for tables that
      * never re-bucketed. A `rebucket` rewrite bumps this to its own
      * snapshot id in the same commit that swaps the manifests — reads
      * of OLDER snapshots see files hashed under the previous counts,
      * so bucket pruning and storage-partitioned-join reporting must
      * disengage below this watermark (the layout claim would be wrong
      * there; stats/bloom pruning still apply). LEGACY check only —
      * superseded by the per-snapshot epoch ([[Snapshot.bucketLayoutId]]
      * vs [[currentBucketLayoutId]]), which is also lineage-safe across
      * branches; both are kept and both must pass. */
    bucketLayoutSince: Long = 0L,
    /** The CURRENT layout epoch (see [[Snapshot.bucketLayoutId]]). A
      * rebucket sets this to its own snapshot id in the layout-swap
      * commit; every subsequent commit stamps its snapshot by
      * inheriting the PARENT's epoch, so only descendants of the
      * rebucket commit — on any branch — claim the current layout.
      * 0 = the original (create-time) layout. */
    currentBucketLayoutId: Long = 0L,
    /** RETIRED bucket layouts, keyed by the epoch id (as a string —
      * JSON object keys) under which they were active. A rebucket
      * records the outgoing layout here (Iceberg keeps partition specs
      * by id the same way), so a TIME-TRAVEL read of a PURE old-epoch
      * snapshot — one committed before the next rebucket existed, i.e.
      * its id is below the next epoch's id — prunes and reports
      * partitioning under ITS OWN layout instead of conservatively
      * disengaging. `columnTypes` pins each bucket column's type at
      * retirement: a column re-keyed AWAY may legally widen afterwards,
      * and murmur3-of-the-widened-type would probe old files wrongly —
      * a type mismatch disengages the historical claim. */
    bucketLayoutHistory: Map[String, BucketLayoutSpec] = Map.empty,
    /** CLUSTER-ON-WRITE columns (empty = off; exclusive with
      * bucketing). Every APPEND-path write (user appends, MV
      * refreshes, streaming sinks) range-partitions + sorts its batch
      * by these columns before writing, so each batch lands as an
      * internally-disjoint sorted tier with tight per-file min/max —
      * point reads prune to ≤1 file per tier immediately, without
      * waiting for a clusterBy pass, and incremental clustering's
      * backbone/tier model gets clean tiers by construction. At 100 TB
      * this trades one extra shuffle of each ingest batch for never
      * rescanning the table to build pruning. Maintenance rewrites
      * (compact, CoW delete survivors, clusterBy itself) keep their own
      * layouts and are not re-shuffled. */
    writeClusterBy: List[String] = Nil,
    /** Manifest-list level (beyond the reference; Iceberg's design):
      * index-manifest path → [[ManifestSummary]]. Planning consults the
      * summaries FIRST and reads only manifests whose range can match —
      * O(manifests) instead of O(files) driver work for selective
      * queries. Keyed across snapshots (manifests are immutable and
      * shared); entries drop when snapshot expiry strands the manifest.
      * Manifests without an entry (legacy tables) are always read —
      * conservative, never wrong. */
    manifestSummaries: Map[String, ManifestSummary] = Map.empty,
    currentSnapshotId: Long,
    /** High-water mark for snapshot id allocation (ids are monotonic,
      * storage.py:495-497). */
    maxSnapshotId: Long,
    /** Keyed by snapshotId.toString (JSON object keys must be strings). */
    snapshots: Map[String, Snapshot],
    refs: Map[String, SnapshotRef] = Map.empty,
    /** Serialized view plan, present for MATERIALIZED_VIEW tables. */
    logicalPlan: Option[String] = None,
    /** The same plan as base64 `substrait.Plan` wire bytes (the
      * reference's encoding, transform/plans.py) — interop sidecar;
      * the loader falls back to it when the JSON plan is absent. */
    logicalPlanSubstrait: Option[String] = None,
    /** For MVs: the SOURCE snapshot id this MV is refreshed up to. */
    mvSourceSnapshotId: Option[Long] = None,
    /** For MULTI-SOURCE views (the incremental join view): per-side
      * refresh watermarks, keyed by side name ("left"/"right"). Kept
      * separate from [[mvSourceSnapshotId]] — the two sources' snapshot
      * ids advance independently, so one Long cannot encode the
      * refresh frontier. Empty for single-source views and plain
      * tables (json4s default — older metadata parses clean). */
    mvSourceSnapshotIds: Map[String, Long] = Map.empty) {

  def snapshot(id: Long): Option[Snapshot] = snapshots.get(id.toString)

  def currentSnapshot: Snapshot = snapshot(currentSnapshotId).getOrElse(
    throw new IllegalStateException(s"current snapshot $currentSnapshotId missing"))
}

/** `metadata/entrypoint.json` — the single mutable pointer of a table. */
final case class EntryPoint(metadataFile: String)

/** Per-file row set in a change log. `bitmapB64` is a serialized
  * RoaringBitmap of row positions within the file; `allRows=true` means
  * every row of the file (metadata.proto:177-191). */
final case class RowBitmap(
    file: String,
    allRows: Boolean,
    numRows: Long,
    bitmapB64: Option[String] = None)

/** Change log of one snapshot: row sets deleted from / added to the table
  * (metadata.proto:162-171). On read, DELETE changes are emitted BEFORE
  * ADD changes (change_data.py:122-132 ordering invariant). */
final case class ChangeLog(
    addedRows: List[RowBitmap] = Nil,
    deletedRows: List[RowBitmap] = Nil)

/** The consolidated delete-vector document of one snapshot
  * ([[Snapshot.deleteVectorFile]]): per data file, the bitmap of DEAD
  * row positions. Entries reuse [[RowBitmap]] with `allRows = false`
  * always (a fully-dead file is dropped from manifests instead — the
  * copy-on-write leg with zero survivors costs no data write) and
  * `numRows` = the bitmap's cardinality. */
final case class DeleteVectors(vectors: List[RowBitmap] = Nil)

/** Result of a storage mutation, merged and applied atomically at commit:
  * manifest additions/removals relative to the parent snapshot, a stats
  * delta, and the change log (runtime.proto:71-83; `_patch_manifests`
  * storage.py:513-535). */
/** Idempotence tag for writer applications (streaming sinks): commit
  * records `appId → version`; a commit whose version is not greater
  * than the recorded one is a duplicate delivery and must not apply. */
final case class TxnTag(appId: String, version: Long)

final case class Patch(
    addedIndexManifests: List[String] = Nil,
    removedIndexManifests: List[String] = Nil,
    addedRecordManifests: List[String] = Nil,
    removedRecordManifests: List[String] = Nil,
    statsDelta: StorageStatistics = StorageStatistics(),
    changeLog: Option[ChangeLog] = None,
    /** For MV refresh commits: the source snapshot this patch advances
      * the MV to (one MV commit per source snapshot, runners.py:204-215). */
    sourceSnapshotId: Option[Long] = None,
    /** Exactly-once writer tag; see [[TxnTag]]. */
    txn: Option[TxnTag] = None,
    /** Manifest-list entries for the added index manifests. */
    manifestSummaries: Map[String, ManifestSummary] = Map.empty,
    /** Merge-on-read: data file → its FULL merged delete vector after
      * this commit (the op merges its new dead rows with the vector it
      * observed at pin time; commit validates nothing changed since —
      * see the Rewrite-policy DV check in [[graft.core.Storage]]). */
    dvAdded: Map[String, RowBitmap] = Map.empty,
    /** Merge-on-read: what each dvAdded file's vector looked like at
      * pin time (serialized bitmap; None = no vector). The commit-time
      * conflict check compares these against the HEAD's vectors — a
      * concurrent delete of the same file aborts instead of silently
      * dropping its rows from the merged vector. */
    dvObserved: Map[String, Option[String]] = Map.empty,
    /** Files whose delete-vector entries retire with this commit: CoW
      * rewrites and maintenance rewrites (compact/cluster/record-
      * rewrite) fold the vector into the rewritten data, and
      * whole-table overwrite drops every entry. */
    dvRemoved: List[String] = Nil,
    /** Multi-source-view refresh commits: per-side watermark advances
      * (see [[StorageMetadata.mvSourceSnapshotIds]]); merged into the
      * metadata map at commit. */
    sourceSnapshotIds: Map[String, Long] = Map.empty,
    /** New-files patches: the table's bucket layout epoch
      * ([[StorageMetadata.currentBucketLayoutId]]) the files were
      * written under. A transaction refuses the patch once a rebucket
      * has moved the epoch: the files carry the old layout's bucket
      * ids, which bucket pruning would trust under the new one. */
    layoutEpoch: Option[Long] = None,
    /** Rebucket commits only: the new bucket (columns, per-column
      * counts). The commit switches the table to it and stamps the new
      * snapshot as the first of a new layout epoch. */
    bucketLayout: Option[(Seq[String], Seq[Int])] = None)

object Patch {
  /** merge_patches analog (ops/utils.py:94-118): manifest lists concat,
    * stats add, change logs concat preserving add/delete grouping. */
  def merge(patches: Seq[Patch]): Option[Patch] = {
    val ps = patches.filter(_ != null)
    if (ps.isEmpty) None
    else Some(ps.reduce { (a, b) =>
      Patch(
        a.addedIndexManifests ++ b.addedIndexManifests,
        a.removedIndexManifests ++ b.removedIndexManifests,
        a.addedRecordManifests ++ b.addedRecordManifests,
        a.removedRecordManifests ++ b.removedRecordManifests,
        a.statsDelta + b.statsDelta,
        (a.changeLog, b.changeLog) match {
          case (Some(x), Some(y)) =>
            Some(ChangeLog(x.addedRows ++ y.addedRows, x.deletedRows ++ y.deletedRows))
          case (x, y) => x.orElse(y)
        },
        a.sourceSnapshotId.orElse(b.sourceSnapshotId),
        a.txn.orElse(b.txn),
        a.manifestSummaries ++ b.manifestSummaries,
        a.dvAdded ++ b.dvAdded,
        a.dvObserved ++ b.dvObserved,
        a.dvRemoved ++ b.dvRemoved,
        a.sourceSnapshotIds ++ b.sourceSnapshotIds,
        // the oldest epoch: a stale part makes the whole patch stale
        (a.layoutEpoch ++ b.layoutEpoch).minOption,
        a.bucketLayout.orElse(b.bucketLayout))
    })
  }
}

object MetadataJson {
  implicit val formats: Formats = DefaultFormats

  def write[A <: AnyRef](a: A): String = Serialization.writePretty(a)

  def readMetadata(s: String): StorageMetadata = Serialization.read[StorageMetadata](s)
  def readEntryPoint(s: String): EntryPoint = Serialization.read[EntryPoint](s)
  def readChangeLog(s: String): ChangeLog = Serialization.read[ChangeLog](s)
  def readDeleteVectors(s: String): DeleteVectors = Serialization.read[DeleteVectors](s)
}
