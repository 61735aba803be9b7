package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.format._

/** Small-file compaction (bin-packing) — the third standard maintenance
  * op next to snapshot expiry and GC in [[GcOps]].
  *
  * The reference caps index files at 1 MiB uncompressed
  * (`options.py:66-67`), so every append of a trickle batch mints tiny
  * files; its docs flag per-file overheads on cloud storage but ship no
  * rewrite op. At 100 TB a streaming-upsert sink produces millions of
  * sub-target files whose per-file open/seek overhead dominates scans —
  * compaction is what keeps scan throughput flat over time.
  *
  * Shape: pick the current snapshot's index files below
  * `smallFraction × targetFileRows`, rewrite their rows into
  * right-sized files with one distributed job, and commit
  * [added manifest + carryover, removed manifests] as ONE snapshot.
  *
  *  - Record-field addresses are physical columns of the index files and
  *    ride through the rewrite untouched — payload files (the heavy
  *    bytes) are never read or moved, same guarantee as CoW delete.
  *  - NO change log is emitted: compaction is physically-reorganizing,
  *    logically-idempotent — `diff()` across a compaction snapshot
  *    reports no row changes and an MV refresh skips over it.
  *  - The replaced files stay on disk for time travel to older
  *    snapshots; [[GcOps.garbageCollect]] reclaims them once those
  *    snapshots expire.
  */
object CompactOp {

  final case class CompactResult(rewrittenFiles: Int, outputFiles: Int, rows: Long)

  /** Merge-on-read debt policy for compaction's file selection: a
    * vector-carrying file joins the rewrite set when its dead fraction
    * (vector cardinality / physical rows) is AT OR ABOVE this value.
    * Default 0 = fold every vector-carrying file (compaction returns
    * the table to its vectors-free steady state — the export/random-
    * access contract). An operator running routine compaction on a
    * huge MoR table sets e.g. 0.2 so barely-dirty files keep their
    * (cheap) vectors instead of paying a rewrite, while debt-heavy
    * files self-select — the compact-side mirror of the cumulative
    * dvMaxFraction cutover on the delete path (VERDICT r11 #1). */
  val DvDebtFractionKey = "spark.graft.compact.dvDebtFraction"

  private[core] def dvDebtFraction(spark: SparkSession): Double =
    Confs.fractionConf(spark, DvDebtFractionKey, 0)

  /** Build the compaction patch, or None when fewer than `minInputFiles`
    * files are below the small threshold. */
  def compact(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      targetFileRows: Long,
      smallFraction: Double = 0.5,
      minInputFiles: Int = 2): Option[(Patch, CompactResult)] = {
    require(targetFileRows > 0 && smallFraction > 0)
    val snap = storage.snapshotOrFail(snapshotId)
    if (snap.manifestFiles.indexManifestFiles.isEmpty) return None

    val threshold = math.max(1L, (targetFileRows * smallFraction).toLong)
    // merge-on-read vectors FOLD on compact: by default every
    // vector-carrying file joins the rewrite set regardless of size, so
    // routine compaction returns a MoR-deleted table to its vectors-free
    // steady state (reads shed the mask, external consumers like
    // index_files() become usable again). With `dvDebtFraction` > 0 only
    // files whose dead fraction reaches the threshold self-select —
    // barely-dirty big files keep their vectors (see [[DvDebtFractionKey]]).
    val dvs = storage.deleteVectors(snapshotId)
    val debtFrac = dvDebtFraction(spark)
    val small0 = ManifestIO.fileRowCounts(storage, spark.sparkContext.hadoopConfiguration,
        snap.manifestFiles.indexManifestFiles)
      .filter { case (f, rows) =>
        rows < threshold || (dvs.contains(f) &&
          (debtFrac == 0 || dvs(f).numRows.toDouble / rows >= debtFrac))
      }

    // Bucketed tables compact WITHIN buckets (each append mints one file
    // per bucket, so buckets accumulate small files linearly): only
    // buckets holding ≥2 small files participate — merging across
    // buckets would break the layout, and a lone small file gains
    // nothing from being rewritten alone.
    val bucketed = storage.metadata.numBuckets > 0
    val small =
      if (!bucketed) small0
      else small0
        .groupBy(f => StoragePaths.bucketOf(f._1))
        .collect {
          // a bucket with one vector-carrying file still rewrites: the
          // fold is the point, not the merge
          case (Some(_), fs) if fs.size >= 2 || fs.exists(f => dvs.contains(f._1)) => fs
        }
        .flatten.toSeq
    val anyFold = small.exists(f => dvs.contains(f._1))
    if (small.size < minInputFiles && !anyFold) return None

    // one distributed rewrite (see [[RewriteOp.replaceFiles]]), shaped
    // per layout. Plain: SHUFFLE-FREE — the manifest already gives exact
    // row counts, so coalesce merges scan partitions in place instead of
    // exchanging every compacted byte.
    val wcb = storage.metadata.writeClusterBy
    val totalRows = small.map(_._2).sum
    val parts = math.max(1, math.ceil(totalRows.toDouble / targetFileRows).toInt)
    val (patch, written) = RewriteOp.replaceFiles(spark, storage, snapshotId,
        small.map(_._1)) { scan =>
      val shaped =
        if (!bucketed && wcb.nonEmpty) {
          // TIER-AWARE on write-clustered tables: a plain coalesce would
          // interleave sorted tiers and un-sort every compacted range —
          // one routine compact used to silently degrade all subsequent
          // point reads. Instead the selected small files re-range-sort
          // into ONE disjoint tier (the same shape an append tier has),
          // so point reads stay ≤ tier-count files. This pays one bounded
          // shuffle of just the small-file bytes — the identical price
          // the bucketed branch pays to keep ITS invariant.
          val cols = wcb.map(col)
          scan.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
        } else if (!bucketed) scan.coalesce(parts)
        // bucketed: the standard bucketed write re-hashes the selected
        // small files into one file per bucket. This pays ONE shuffle of
        // just the selected small-file bytes (bounded by construction) —
        // the price of keeping the bucket invariant through the same
        // single code path every other write uses.
        else scan
      val p = AppendOp.writeFilesWithMeta(spark, storage, shaped).patch
      (p, p.statsDelta.numRows)
    }
    Some((patch, CompactResult(small.size, RewriteOp.fileCount(written),
      written.statsDelta.numRows)))
  }
}
