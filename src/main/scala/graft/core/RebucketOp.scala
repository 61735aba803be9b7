package graft.core

import org.apache.spark.sql.SparkSession

import graft.format._

/** Bucket-layout evolution (`rebucket`): rewrite EVERY data file of a
  * bucketed table through the standard bucketed write path under NEW
  * per-column bucket counts, and switch the table's layout metadata in
  * the SAME commit (beyond the reference, which has no bucketing at
  * all; Iceberg evolves bucket specs similarly via partition-spec
  * evolution + rewrite).
  *
  * Why it exists: `bucketCounts` are fixed at create, but a table that
  * grows 100× outgrows its layout — 4×4 buckets over 100 TB means
  * ~780 GB per bucket-pair task in a storage-partitioned join. Without
  * a procedure the only way out is a manual export/recreate that loses
  * history. `rebucket` is one CDC-silent commit:
  *
  *  - The rewrite streams through ONE distributed shuffle to the new
  *    tuple layout (exactly an append's price at the same volume);
  *    record-field addresses ride through opaque, payload bytes never
  *    move; merge-on-read vectors FOLD (the rewrite keeps live rows).
  *  - [[graft.format.StorageMetadata.bucketLayoutSince]] bumps to the
  *    new snapshot id: time travel BELOW it reads files hashed under
  *    the old counts, so bucket pruning and SPJ reporting disengage
  *    there (stats/bloom pruning still apply) instead of claiming a
  *    layout those files don't have.
  *  - Concurrency: a Strict transaction with no retry — any head
  *    movement between pin and commit aborts
  *    ([[ConcurrentCommitException]]); a layout change cannot merge with
  *    concurrent writes hashed under the old counts. The caller retries;
  *    staged files of a failed attempt are GC'd. The layout switch is
  *    data on the patch ([[graft.format.Patch.bucketLayout]]), applied
  *    by the snapshot commit itself.
  */
object RebucketOp {

  final case class RebucketResult(
      rewrittenFiles: Int,
      outputFiles: Int,
      rows: Long,
      newCounts: Seq[Int])

  /** `newColumns` re-keys the layout (or ADOPTS bucketing on an
    * unbucketed table — the table that grew into needing
    * storage-partitioned joins); omitted = keep the current bucket
    * columns, which then must exist. Any target layout is valid because
    * the op rewrites every file. */
  def rebucket(
      spark: SparkSession,
      storage: Storage,
      newCounts: Seq[Int],
      branch: String = SnapshotRef.MainBranch,
      newColumns: Option[Seq[String]] = None): RebucketResult = {
    val cols = newColumns.getOrElse(storage.metadata.bucketColumns.toSeq)
    require(cols.nonEmpty,
      "rebucket: the table is not bucketed — pass the bucket columns to " +
        "ADOPT a layout (rebucket(counts, columns = ...))")
    cols.foreach { c =>
      require(storage.schema.fieldNames.contains(c),
        s"rebucket: bucket column $c not in schema (physical top-level names)")
      require(!storage.recordFields.contains(c),
        s"rebucket: record field $c cannot be a bucket column")
    }
    require(storage.metadata.writeClusterBy.isEmpty,
      "rebucket: write_cluster_by and bucketing are exclusive — a bucketed " +
        "write's partitioning IS the bucket layout")
    require(newCounts.length == cols.length,
      s"rebucket: ${newCounts.length} counts for ${cols.length} bucket columns " +
        s"(${cols.mkString(", ")})")
    require(newCounts.forall(_ >= 1), s"rebucket: counts must be >= 1: $newCounts")
    val product = newCounts.map(_.toLong).product
    require(product <= 100000, s"rebucket: counts product $product exceeds 100000")
    require(newCounts != storage.metadata.bucketCounts ||
        cols != storage.metadata.bucketColumns,
      s"rebucket: the table already has this bucket layout " +
        s"(${cols.mkString(",")} @ ${newCounts.mkString(",")})")
    // Layout metadata (columns/counts) is TABLE-WIDE, so the rewrite
    // that redefines it runs on main only. Side branches may exist:
    // layout claims follow the per-snapshot LAYOUT EPOCH
    // ([[graft.format.Snapshot.bucketLayoutId]]) — only descendants of
    // this rebucket commit inherit the new epoch, so a branch forked
    // before it (and anything it commits later, even under ids above
    // the watermark) correctly disengages bucket pruning/SPJ instead
    // of being misread as new-layout.
    require(branch == SnapshotRef.MainBranch,
      s"rebucket: layout evolution runs on '${SnapshotRef.MainBranch}' only " +
        s"(got branch '$branch') — bucket layout metadata is table-wide")
    // Strict: the rewrite hashes against the pinned snapshot, so ANY
    // concurrent commit (even an append — its files carry old-layout
    // bucket ids) invalidates the layout switch; no retry, the caller
    // re-runs rebucket
    storage.transaction(branch, ConflictPolicy.Strict, maxRetries = 0) { pinned =>
      // full rewrite at the pinned snapshot under the new layout
      val files = ReadOp.plan(spark, storage, pinned, None).files
      val (patch, written) = RewriteOp.replaceFiles(spark, storage, pinned, files) { scan =>
        val p = AppendOp.writeFilesWithMeta(spark, storage, scan,
          bucketLayoutOverride = Some((cols, newCounts))).patch
        (p, p.statsDelta.numRows)
      }
      require(patch.addedIndexManifests == written.addedIndexManifests,
        "rebucket rewrote every file; no carryover rows can remain")
      require(patch.removedIndexManifests.toSet ==
          storage.snapshotOrFail(pinned).manifestFiles.indexManifestFiles.toSet,
        "rebucket must replace the snapshot's whole manifest list")
      (Some(patch.copy(bucketLayout = Some((cols, newCounts)))),
        RebucketResult(files.size, RewriteOp.fileCount(written),
          written.statsDelta.numRows, newCounts))
    }
  }
}
